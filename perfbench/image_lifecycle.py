"""image_lifecycle: the paper's annotation lifecycle on a seeded experiment.

Why: the only workload that drives the image operators, NPZ unit I/O, the
numpy kernels (blur/gamma, stitch, relabel, resize, connected components)
and the Python/Arrow boundary. It never touches ``relational/`` or
``sources/snapshots.py``.

One pass, in two halves:

* units ready (raw images in memory -> NPZ units on disk):
  ``adjust_images`` -> ``reorder_channels`` -> ``crop_and_slice``
  (overlapping crops plus stack slices) -> ``write_npz_units``;
* dataset ready (units on disk -> summarized splits and a benchmark table):
  ``read_npz_units`` -> ``reconstruct_image_stack`` -> ``relabel_data`` ->
  ``cell_counts`` -> ``build_dataset`` (by-tissue resize, CC relabel,
  small-object clean) -> ``summarize_dataset`` per split -> ``benchmark``.

``build_dataset`` runs without ``balance``: on this input size every
Python-UDF stage costs ~32 tasks of fixed per-task overhead, and balance
re-runs each split's reshape/clean pipeline once more (~15 s of a ~80 s
pass), which the run-time budget of the whole benchmark cannot carry.

The session caps Arrow batches at ``ARROW_BATCH_ROWS`` rows so that a
shuffle partition of the image stages spans several Arrow batches, as it
does at production sizes (64 MiB batches against multi-GB partitions);
``write_npz_units`` groups frames per batch, so a unit whose frames
straddle two batches is written twice and the second write keeps only part
of its stack. The checks count those lost frames.

Untraced passes run the halves fused, materializing only the relabeled
frames that both ``cell_counts`` and ``build_dataset`` read. Traced passes
persist and count each layer's output before the next call, so that each
span covers one layer.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import functions as F

from datagen import image_experiment
from deepcell_data_engineering_spark.dataset.benchmark import benchmark
from deepcell_data_engineering_spark.dataset.builder import build_dataset, summarize_dataset
from deepcell_data_engineering_spark.functions.imaging import adjust_images
from deepcell_data_engineering_spark.operators.channels import reorder_channels
from deepcell_data_engineering_spark.operators.labels import cell_counts
from deepcell_data_engineering_spark.operators.reconstruct import (
    crop_and_slice,
    reconstruct_image_stack,
)
from deepcell_data_engineering_spark.operators.relabel import relabel_data
from deepcell_data_engineering_spark.sources.codecs import decode_y
from deepcell_data_engineering_spark.sources.images import (
    images_df,
    read_npz_units,
    rows_from_arrays,
    write_npz_units,
)
from harness import catalyst_phases, layer_counters, median

FOVS, STACKS, SIZE = 4, 2, 64
CROP, OVERLAP, SLICE_LEN = 32, 0.25, 2
TILE = 32  # dataset tile edge
RESIZE_RATIO = 2  # by_tissue: sqrt(400 / median cell area 100)
SMALL_OBJECT = 20  # px; cell pieces below this are cleaned
ARROW_BATCH_ROWS = 16
SPLITS = ("train", "val", "test")

LAYERS = {
    "adjust": "functions.imaging.adjust_images",
    "reorder": "operators.channels.reorder_channels",
    "crop": "operators.reconstruct.crop_and_slice",
    "write": "sources.images.write_npz_units",
    "read": "sources.images.read_npz_units",
    "stitch": "operators.reconstruct.reconstruct_image_stack",
    "relabel": "operators.relabel.relabel_data",
    "counts": "operators.labels.cell_counts",
    "build": "dataset.builder.build_dataset",
    "summarize": "dataset.builder.summarize_dataset",
    "benchmark": "dataset.benchmark.benchmark",
}


def expected_tile_cells(y: np.ndarray) -> list[int]:
    """Cells per dataset tile of one generator frame, in tile order: the
    frame resized by RESIZE_RATIO (nearest), zero-padded to whole tiles,
    cut row-major; a label counts in a tile when its piece there keeps at
    least SMALL_OBJECT pixels (rectangles stay one component per tile)."""
    big = np.repeat(np.repeat(y, RESIZE_RATIO, 0), RESIZE_RATIO, 1)
    h, w = big.shape
    pad = np.zeros((-(-h // TILE) * TILE, -(-w // TILE) * TILE), big.dtype)
    pad[:h, :w] = big
    out = []
    for r in range(0, pad.shape[0], TILE):
        for c in range(0, pad.shape[1], TILE):
            ids, n = np.unique(pad[r : r + TILE, c : c + TILE], return_counts=True)
            out.append(int(((ids > 0) & (n >= SMALL_OBJECT)).sum()))
    return out


class Workload:
    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.dir = work_dir
        self.seed = seed
        self._pass = 0
        self._out: dict = {}
        self._pinned: list = []
        self.last_count = 0
        self.passes_done: list[dict] = []

    def setup(self) -> None:
        self.spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        frames, meta = image_experiment(self.seed, FOVS, STACKS, SIZE)
        self.rows = []
        self.truth = {}
        for fov, (xs, ys) in frames.items():
            self.rows += rows_from_arrays(fov, xs, ys, channels=["DAPI", "Membrane"])
            for s in range(STACKS):
                self.truth[(fov, s)] = ys[s]
        keys = sorted(meta)
        self.img_idx = {k: i for i, k in enumerate(keys)}
        self.meta = self.spark.createDataFrame(
            [(f, s, i, *meta[(f, s)]) for (f, s), i in self.img_idx.items()],
            "fov string, stack int, img_idx long, tissue string, platform string",
        )
        self.tile_cells = {
            self.img_idx[k]: expected_tile_cells(y) for k, y in self.truth.items()
        }
        self.megapixels = len(self.truth) * SIZE * SIZE / 1e6
        # the raw images, in memory: where the lifecycle starts
        self.images = images_df(self.spark, self.rows).persist()
        self.images.count()

    # --- one pass ----------------------------------------------------------

    def _layer(self, tracer, key: str, fn, action=None, pin: bool = False):
        """Call one layer in a span, then run ``action`` on its output in a
        second span. In traced passes a lazy layer (``pin``) is persisted and
        counted there, so that its jobs are its own."""
        with tracer.span(LAYERS[key]) as b:
            out = fn()
        if tracer.probe:
            b.counters["build_s"] = b.wall_s
            b.counters["build_jobs"] = b.counters["jobs"]
            if pin:
                action = self._pin
        if action is not None:
            with tracer.span(LAYERS[key] + ".execute") as e:
                result = action(out)
            if tracer.probe:
                e.counters["execute_s"] = e.wall_s
                if action is _collect:
                    e.counters["result_rows"] = len(result)
                    e.counters.update(catalyst_phases(out))
            out = result
        return out

    def _pin(self, out):
        """Persist and count a layer's frame (the first item of a tuple
        output), releasing the previous layer's."""
        if isinstance(out, tuple):
            return (self._pin(out[0]), *out[1:])
        out = out.persist()
        self.last_count = out.count()
        for old in self._pinned:
            old.unpersist()
        self._pinned = [out]
        return out

    def run_pass(self, tracer) -> list[tuple[str, float]]:
        spark = self.spark
        self._pass += 1
        self._pinned = []
        unit_dir = os.path.join(self.dir, f"units{self._pass}")
        ops, mark = [], [time.perf_counter()]

        def op(name: str) -> None:
            now = time.perf_counter()
            ops.append((name, now - mark[0]))
            mark[0] = now

        start = mark[0]
        adjusted = self._layer(
            tracer, "adjust",
            lambda: adjust_images(self.images, {"blur": 0.5, "gamma_adjust": 1.2}, channel="DAPI"),
            pin=True)
        reordered = self._layer(
            tracer, "reorder", lambda: reorder_channels(adjusted, ["Membrane", "DAPI"]), pin=True)
        units, log = self._layer(
            tracer, "crop",
            lambda: crop_and_slice(reordered, crop_size=(CROP, CROP), overlap_frac=OVERLAP,
                                   slice_len=SLICE_LEN),
            pin=True)
        manifest = self._layer(
            tracer, "write", lambda: write_npz_units(units, unit_dir), _collect)
        op("units_ready")
        units_ready = time.perf_counter()

        loaded = self._layer(
            tracer, "read", lambda: read_npz_units(spark, unit_dir + "/*.npz"), pin=True)
        frames_read = self.last_count if tracer.probe else None
        restored = self._layer(
            tracer, "stitch", lambda: reconstruct_image_stack(loaded, log), pin=True)
        relabeled = self._layer(
            tracer, "relabel", lambda: relabel_data(restored, relabel_type="all_frames"),
            pin=True)
        if not tracer.probe:  # cell_counts and build_dataset both read it
            relabeled = relabeled.persist()
        counts = self._layer(tracer, "counts", lambda: cell_counts(relabeled), _collect)
        op("cell_counts")
        dataset = relabeled.join(F.broadcast(self.meta), ["fov", "stack"]).select(
            "img_idx", *relabeled.columns, "tissue", "platform")
        splits = self._layer(
            tracer, "build",
            lambda: build_dataset(dataset, output_shape=(TILE, TILE), resize="by_tissue",
                                  relabel=True, small_object_threshold=SMALL_OBJECT,
                                  seed=self.seed),
            lambda s: {k: _counted(v) for k, v in s.items()})
        op("build_dataset")
        summaries = {}
        for name in SPLITS:
            summaries[name] = self._layer(
                tracer, "summarize", lambda: summarize_dataset(splits[name]), _collect)
            op("summarize_dataset")
        bench = self._layer(tracer, "benchmark", lambda: benchmark(dataset, dataset), _collect)
        op("benchmark")
        end = time.perf_counter()
        self._out = {
            "manifest": manifest, "counts": counts, "summaries": summaries, "bench": bench,
            "relabeled": relabeled, "splits": splits, "unit_dir": unit_dir,
            "spans": tracer.spans if tracer.probe else None, "frames_read": frames_read,
            "units_ready_s": units_ready - start, "dataset_ready_s": end - units_ready,
        }
        return ops

    # --- checks (outside the timed region) ---------------------------------

    def check_pass(self) -> dict[str, bool]:
        o = self._out
        n_units = len({(r["fov"], r["crop"], r["slice"]) for r in o["manifest"]})
        paths = [r["path"] for r in o["manifest"]]
        frames = o["relabeled"].select("fov", "stack", "height", "width", "y").collect()
        bad = 0
        for r in frames:
            got = decode_y(r["y"], r["height"], r["width"])
            want = self.truth[(r["fov"], r["stack"])]
            if not (np.array_equal(got > 0, want > 0)
                    and len(np.unique(got)) == len(np.unique(want))):
                bad += 1
        self.lost_frames = bad + len(self.truth) - len(frames)
        counts_ok = all(
            r["n_cells"] == len(np.unique(self.truth[(r["fov"], r["stack"])])) - 1
            for r in o["counts"]
        ) and len(o["counts"]) == len(self.truth)
        summary_ok = True
        for name in SPLITS:
            tiles = o["splits"][name].select("img_idx", "crop").collect()
            grid = [self.tile_cells[r["img_idx"]] for r in tiles]
            if any(r["crop"] >= len(g) for r, g in zip(tiles, grid)):
                summary_ok = False  # tiled at another resize ratio
                continue
            want_cells = sum(g[r["crop"]] for r, g in zip(tiles, grid))
            total = [
                r for r in o["summaries"][name] if r["tissue"] == r["platform"] == "all"
            ]
            summary_ok &= bool(total) and (total[0]["cell_num"], total[0]["image_num"]) == (
                want_cells, len(tiles))
        overall = [r for r in o["bench"] if r["category"] == "all"]
        bench_ok = bool(overall) and overall[0]["recall"] == 1.0 and overall[0]["precision"] == 1.0
        if o["spans"] is not None:
            self._count_extras(o, len(frames))
        for df in [o["relabeled"], *o["splits"].values(), *self._pinned]:
            df.unpersist()
        self.passes_done.append(
            {k: o[k] for k in ("units_ready_s", "dataset_ready_s")}
            | {"lost_frames": self.lost_frames}
        )
        return {
            "write_npz_units": len(paths) == len(set(paths)) == n_units,
            "round_trip": self.lost_frames == 0,
            "cell_counts": counts_ok,
            "summarize_dataset": summary_ok,
            "benchmark": bench_ok,
        }

    def _count_extras(self, o, n_frames: int) -> None:
        """The extra counters of the traced write/read/stitch spans."""
        spans = {sp.name: sp for sp in o["spans"]}
        files = [
            os.path.join(o["unit_dir"], f)
            for f in os.listdir(o["unit_dir"]) if f.endswith(".npz")
        ]
        spans[LAYERS["write"]].counters.update(
            files=len(files),
            bytes=sum(os.path.getsize(f) for f in files),
            manifest_rows=len(o["manifest"]),
        )
        spans[LAYERS["read"]].counters["frames"] = o["frames_read"]
        spans[LAYERS["stitch"]].counters["frames_ok"] = n_frames - self.lost_frames

    def recover(self) -> None:
        self.spark.catalog.clearCache()
        self.images.persist()
        self._out = {}

    # --- reporting ---------------------------------------------------------

    def workload_metrics(self, passes) -> dict:
        done = self.passes_done[-len(passes):]
        walls = [p["wall_s"] for p in passes]
        n = len(done)
        return {
            "units_ready_s": {
                "value": median([d["units_ready_s"] for d in done]), "unit": "s", "n": n},
            "dataset_ready_s": {
                "value": median([d["dataset_ready_s"] for d in done]), "unit": "s", "n": n},
            "lifecycle_mpx_per_s": {
                "value": self.megapixels * n / sum(walls), "unit": "Mpx/s", "n": n},
            "lost_frames": {
                "value": median([d["lost_frames"] for d in done]), "unit": "count", "n": len(done),
                "of": len(self.truth)},
        }

    def layer_metrics(self, traced_spans) -> dict:
        extras = {"write": ("files", "bytes", "manifest_rows"), "read": ("frames",),
                  "stitch": ("frames_ok",)}
        out = {}
        for key, layer in LAYERS.items():
            keys = ("wall_s", "jobs", "tasks", "python_cpu_s", "jvm_cpu_s") + extras.get(key, ())
            out.update(layer_counters(traced_spans, layer, keys))
        return out


def _collect(df):
    return df.collect()


def _counted(df):
    df.count()
    return df
