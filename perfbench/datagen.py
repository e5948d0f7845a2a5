"""Seeded inputs for the benchmark workloads.

Everything a workload feeds the program is made here from ``--seed``, so the
same seed always yields the same tables and images and nothing is read from
outside the checkout.

* ``write_tables`` writes the TPC-H-shaped star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables the query registry reads, one
  parquet file each, with the column names, types and value domains of the
  engine's catalog (``catalog.TABLE_NAMES``). Row counts scale with ``sf``
  like the catalog's own scale factors (lineitem = 6M x sf).
* ``image_experiment`` builds a synthetic multi-fov, multi-stack,
  2-channel imaging experiment: rectangle-grid label masks of equal-area
  cells, seeded random X, and a tissue/platform assignment per fov/stack.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = [
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "a", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "vector", "join", "the", "customer",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]

_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_DAY_US = 86_400_000_000


def _money(rng: np.random.RandomState, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.RandomState, n_days: int, n: int) -> pa.Array:
    us = _EPOCH_1995 + rng.randint(0, n_days, n).astype("timedelta64[D]")
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The catalog's tables at scale factor ``sf`` (lineitem = 6M x sf rows)."""
    rng = np.random.RandomState(seed)
    n_cust, n_supp = max(int(150_000 * sf), 10), max(int(10_000 * sf), 5)
    n_part, n_ord = max(int(200_000 * sf), 10), max(int(1_500_000 * sf), 10)
    n_line, n_events = max(int(6_000_000 * sf), 10), max(int(1_000_000 * sf), 10)
    n_docs = max(int(50_000 * sf), 20)
    i32, i64 = pa.int32(), pa.int64()

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.randint(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.randint(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.randint(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), i64),
        "p_name": [
            f"{ADJECTIVES[a]} {NOUNS[b]}"
            for a, b in zip(rng.randint(0, 8, n_part), rng.randint(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.randint(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.randint(0, 6, n_part)],
        "p_size": pa.array(rng.randint(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), i64),
        "o_custkey": pa.array(rng.randint(0, n_cust, n_ord), i64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.randint(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, 2400, n_ord),
        "o_orderpriority": [PRIORITIES[i] for i in rng.randint(0, 5, n_ord)],
    })
    qty = rng.randint(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.randint(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.randint(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.randint(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.randint(1, 8, n_line), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.randint(0, 11, n_line) / 100.0,
        "l_tax": rng.randint(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.randint(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.randint(0, 2, n_line)],
        "l_shipdate": _days(rng, 2500, n_line),
    })
    ts = np.sort(rng.randint(0, 30 * _DAY_US, n_events))
    t["events"] = pa.table({
        "event_id": pa.array(range(n_events), i64),
        "ts": pa.array((_EPOCH_2024 + ts.astype("timedelta64[us]")), type=pa.timestamp("us")),
        "user_id": pa.array(rng.randint(0, max(n_cust // 10, 2), n_events), i64),
        "event_type": [EVENT_TYPES[i] for i in rng.randint(0, 5, n_events)],
        "value": _money(rng, 0.01, 490.0, n_events),
        "props": [f'{{"k": {i}}}' for i in rng.randint(0, 100, n_events)],
    })
    texts = [
        " ".join(VOCAB[j] for j in rng.randint(0, len(VOCAB), rng.randint(15, 61)))
        for _ in range(n_docs)
    ]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), i64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{j}" for j in rng.randint(0, 20, n_docs)],
        "n_chars": pa.array([len(s) for s in texts], i64),
    })
    centers = rng.randn(10, 64)
    labels = rng.randint(0, 10, n_docs)
    vecs = centers[labels] + rng.randn(n_docs, 64) * 0.3
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_docs), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --- imaging experiment --------------------------------------------------

CELL = 10  # cell edge in pixels: median cell area 100 -> by_tissue resize ratio 2
PITCH = 16  # grid pitch; every cell is a CELL x CELL square


def image_experiment(seed: int, fovs: int, stacks: int, size: int):
    """Per-fov (X, y) stacks and per-frame metadata.

    Returns ``(frames, meta)``: ``frames[fov] = (x [stacks, size, size, 2]
    float32, y [stacks, size, size] int32)``; ``meta[(fov, stack)] =
    (tissue, platform)``. Each frame's grid of CELL x CELL squares is
    shifted by a seeded offset, so frames differ while every cell keeps
    the same area.
    """
    from deepcell_data_engineering_spark.sources.images import rectangle_grid_labels

    rng = np.random.RandomState(seed)
    frames, meta = {}, {}
    for f in range(fovs):
        fov = f"fov{f}"
        ys = np.zeros((stacks, size, size), dtype=np.int32)
        for s in range(stacks):
            off = int(rng.randint(0, PITCH // 2))
            ys[s, off:, off:] = rectangle_grid_labels(
                size - off, size - off, cell_h=CELL, cell_w=CELL, pitch_r=PITCH, pitch_c=PITCH
            )
            meta[(fov, s)] = (
                ("tissue_a", "tissue_b")[(f + s) % 2],
                ("platform_a", "platform_b")[f % 2],
            )
        xs = (rng.rand(stacks, size, size, 2) * 100.0).astype(np.float32)
        frames[fov] = (xs, ys)
    return frames, meta
