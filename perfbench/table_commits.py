"""table_commits: a seeded commit sequence on a snapshot table.

Why: the only phase that writes parquet data directories and manifests
(``sources/snapshots.py``: appends, the four copy-on-write DML verbs,
compaction, vacuum) beside snapshot and change-feed reads. It runs no image
kernel and none of the query mix.

The table is a projection of a seeded ``lineitem`` (key, orderkey, flag,
cents). A pass builds a fresh table: ``N_APPENDS`` appends,
``merge_upsert`` of ~1% of the keys plus new ones, ``update_where``,
``delete_where``, ``replace_where`` (predicates drawn from the seed),
reads at head, at a past version and of the change feed from v0, then
``optimize_table``, ``vacuum`` and a final read. DuckDB applies the same
steps to the same parquet during set-up; every read is checked against it.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from datagen import make_tables
from deepcell_data_engineering_spark.oracle import _normalize, table_hash
from deepcell_data_engineering_spark.sources import snapshots as snap
from harness import catalyst_phases, layer_counters, median

SF = 0.004  # 24k rows
N_APPENDS = 4
PAST_APPEND = 2  # the past read targets the version written by this append
WRITE_VERBS = ("commit", "merge_upsert", "update_where", "delete_where", "replace_where",
               "optimize_table")
READ_VERBS = ("read_snapshot", "read_changes", "vacuum")
DML = ("merge_upsert", "update_where", "delete_where", "replace_where")


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


class Workload:
    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.dir = work_dir
        self.seed = seed
        self.expected: dict = {}
        self._pass = 0
        self._seen: dict = {}

    # --- set-up: inputs and DuckDB expectations ---------------------------

    def setup(self) -> None:
        os.makedirs(self.dir, exist_ok=True)
        li = make_tables(self.seed, SF)["lineitem"]
        n = li.num_rows
        base = pa.table({
            "key": pa.array(np.arange(n), pa.int64()),
            "orderkey": li["l_orderkey"],
            "flag": li["l_returnflag"],
            "cents": pa.array(np.round(li["l_extendedprice"].to_numpy() * 100).astype(np.int64)),
        })
        rng = np.random.RandomState(self.seed)
        self.p = {
            "update": f"flag = 'A' AND orderkey % 7 = {rng.randint(7)}",
            "delete": f"orderkey % 11 = {rng.randint(11)}",
            "replace": f"flag = 'R' AND orderkey % 13 = {rng.randint(13)}",
        }
        self.path = {
            k: os.path.join(self.dir, f"{k}.parquet") for k in ("base", "merge", "replace")
        }
        pq.write_table(base, self.path["base"])
        bounds = np.linspace(0, n, N_APPENDS + 1).astype(int)
        self.chunks = []
        for i in range(N_APPENDS):
            p = os.path.join(self.dir, f"chunk{i}.parquet")
            pq.write_table(base.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
            self.chunks.append(p)

        con = duckdb.connect()
        try:
            con.execute(f"CREATE TABLE base AS SELECT * FROM read_parquet('{self.path['base']}')")
            hit = rng.choice(n, size=n // 100, replace=False)
            con.execute(
                f"""COPY (SELECT key, orderkey, flag, cents + 7 AS cents FROM base
                          WHERE key IN ({",".join(map(str, hit))})
                          UNION ALL
                          SELECT {n} + i AS key, i * 3 AS orderkey, 'N' AS flag, 1000 + i AS cents
                          FROM range({n // 400}) t(i))
                    TO '{self.path["merge"]}' (FORMAT PARQUET)"""
            )
            con.execute(
                f"""COPY (SELECT key, orderkey, flag, cents * 2 AS cents FROM base
                          WHERE {self.p['replace']})
                    TO '{self.path["replace"]}' (FORMAT PARQUET)"""
            )
            self.expected = self._oracle(con, bounds)
        finally:
            con.close()
        self.sources = {
            "chunks": [self.spark.read.parquet(p) for p in self.chunks],
            "merge": self.spark.read.parquet(self.path["merge"]),
            "replace": self.spark.read.parquet(self.path["replace"]),
        }

    def _oracle(self, con, bounds) -> dict:
        q = lambda sql: con.execute(sql).fetchone()  # noqa: E731
        exp = {"past_count": int(bounds[PAST_APPEND])}
        con.execute("CREATE TABLE t AS SELECT * FROM base")
        ins, dels = int(bounds[-1] - bounds[1]), 0
        m = f"read_parquet('{self.path['merge']}')"
        (matched,) = q(f"SELECT count(*) FROM t WHERE key IN (SELECT key FROM {m})")
        (n_src,) = q(f"SELECT count(*) FROM {m}")
        con.execute(f"DELETE FROM t WHERE key IN (SELECT key FROM {m})")
        con.execute(f"INSERT INTO t SELECT * FROM {m}")
        ins, dels = ins + n_src, dels + matched
        (upd,) = q(f"SELECT count(*) FROM t WHERE {self.p['update']}")
        con.execute(f"UPDATE t SET cents = cents + 1 WHERE {self.p['update']}")
        ins, dels = ins + upd, dels + upd
        (gone,) = q(f"SELECT count(*) FROM t WHERE {self.p['delete']}")
        con.execute(f"DELETE FROM t WHERE {self.p['delete']}")
        dels += gone
        (scoped,) = q(f"SELECT count(*) FROM t WHERE {self.p['replace']}")
        r = f"read_parquet('{self.path['replace']}')"
        (n_rep,) = q(f"SELECT count(*) FROM {r}")
        con.execute(f"DELETE FROM t WHERE {self.p['replace']}")
        con.execute(f"INSERT INTO t SELECT * FROM {r}")
        ins, dels = ins + n_rep, dels + scoped
        count, cents = q("SELECT count(*), sum(cents) FROM t")
        exp.update(
            head=(int(count), int(cents)),
            changes={"insert": ins, "delete": dels},
            rows_hash=table_hash(_normalize(con.execute("SELECT key, cents FROM t").fetchdf())),
        )
        return exp

    # --- one pass ----------------------------------------------------------

    def _verb(self, tracer, name: str, fn, *args, **kw):
        """Call one write/maintenance verb inside a span; in traced passes
        also count the files and bytes it left in the table directory."""
        before = _dir_files(self.table) if tracer.probe else None
        with tracer.span(f"sources.snapshots.{name}") as sp:
            out = fn(*args, **kw)
        if tracer.probe:
            after = _dir_files(self.table)
            new = set(after) - set(before)
            sp.counters["build_s"] = sp.wall_s
            sp.counters["build_jobs"] = sp.counters["jobs"]
            sp.counters["files_written"] = len(new)
            sp.counters["bytes_written"] = sum(after[p] for p in new)
        self._ops.append((name, sp.wall_s))
        return out

    def _read(self, tracer, name: str, fn, action, *args, **kw):
        """A read verb (build span) and the action on its frame (execute
        span); the op latency covers both."""
        with tracer.span(f"sources.snapshots.{name}") as b:
            df = fn(*args, **kw)
        with tracer.span(f"sources.snapshots.{name}.execute") as e:
            res = action(df)
            rows = res.collect()
        if tracer.probe:
            b.counters["build_s"] = b.wall_s
            b.counters["build_jobs"] = b.counters["jobs"]
            e.counters["execute_s"] = e.wall_s
            e.counters["result_rows"] = len(rows)
            e.counters.update(catalyst_phases(res))
        self._ops.append((name, e.end - b.start))
        return rows

    def run_pass(self, tracer) -> list[tuple[str, float]]:
        spark = self.spark
        self._pass += 1
        self.table = os.path.join(self.dir, f"table{self._pass}")
        self._ops = []
        seen = self._seen = {"versions": []}
        for df in self.sources["chunks"]:
            seen["versions"].append(
                self._verb(tracer, "commit", snap.commit, spark, df, self.table)
            )
        self._verb(tracer, "merge_upsert", snap.merge_upsert, spark, self.sources["merge"],
                   self.table, keys=["key"])
        self._verb(tracer, "update_where", snap.update_where, spark, self.table,
                   self.p["update"], {"cents": "cents + 1"})
        self._verb(tracer, "delete_where", snap.delete_where, spark, self.table, self.p["delete"])
        self._verb(tracer, "replace_where", snap.replace_where, spark, self.sources["replace"],
                   self.table, self.p["replace"])
        agg = lambda df: df.agg(F.count(F.lit(1)), F.sum("cents"))  # noqa: E731
        seen["head"] = self._read(
            tracer, "read_snapshot", snap.read_snapshot, agg, spark, self.table
        )
        seen["past"] = self._read(
            tracer, "read_snapshot", snap.read_snapshot, agg, spark, self.table,
            version=seen["versions"][PAST_APPEND - 1],
        )
        seen["changes"] = self._read(
            tracer, "read_changes", snap.read_changes,
            lambda df: df.groupBy("_change_type").count(), spark, self.table, 0,
        )
        self._verb(tracer, "optimize_table", snap.optimize_table, spark, self.table)
        self._verb(tracer, "vacuum", snap.vacuum, self.table)
        seen["final"] = self._read(
            tracer, "read_snapshot", snap.read_snapshot, agg, spark, self.table
        )
        return self._ops

    def check_pass(self) -> dict[str, bool]:
        seen, exp = self._seen, self.expected
        head = lambda rows: (int(rows[0][0]), int(rows[0][1]))  # noqa: E731
        final_rows = snap.read_snapshot(self.spark, self.table).select("key", "cents").collect()
        final_pdf = pd.DataFrame.from_records(
            [tuple(r) for r in final_rows], columns=["key", "cents"]
        )
        return {
            "commit": seen["versions"] == list(range(N_APPENDS)),
            "read_head": head(seen["head"]) == exp["head"],
            "read_past": int(seen["past"][0][0]) == exp["past_count"],
            "read_changes": {r[0]: int(r[1]) for r in seen["changes"]} == exp["changes"],
            "final_state": head(seen["final"]) == exp["head"]
            and table_hash(_normalize(final_pdf)) == exp["rows_hash"],
        }

    def recover(self) -> None:
        self._seen = {}

    # --- reporting ---------------------------------------------------------

    def workload_metrics(self, passes) -> dict:
        ops = [o for p in passes for o in p["ops"] if o[0] in WRITE_VERBS + READ_VERBS]
        pick = lambda names: [s for n, s in ops if n in names]  # noqa: E731
        out = {"table_ops_per_s": {
            "value": len(ops) / sum(s for _, s in ops), "unit": "1/s", "n": len(ops)}}
        for metric, names in (
            ("append_p50_s", ("commit",)),
            ("dml_p50_s", DML),
            ("snapshot_read_p50_s", ("read_snapshot", "read_changes")),
        ):
            lat = pick(names)
            out[metric] = {"value": median(lat), "unit": "s", "n": len(lat)}
        return out

    def layer_metrics(self, traced_spans) -> dict:
        out = {}
        for verb in WRITE_VERBS:
            out.update(layer_counters(
                traced_spans, f"sources.snapshots.{verb}",
                ("wall_s", "jobs", "tasks", "files_written", "bytes_written")))
        for verb in READ_VERBS:
            out.update(layer_counters(
                traced_spans, f"sources.snapshots.{verb}", ("wall_s", "jobs", "tasks")))
        return out
