"""The ``images`` table: the engine's core relational layout for image units.

One row per atomic image unit (fov, stack, crop, slice) — the relational
re-expression of the reference's 7D dense tensor contract
(caliban_toolbox/settings.py:31-33): the four leading tensor dims become
key columns, rows/cols become the binary payload's shape, and channel /
compartment names become data columns. Before cropping, crop = 0
(utils/crop_utils.py:104-105); before slicing, slice = 0
(utils/slice_utils.py:86-87).

Scale posture: Parquet at rest, partitioned by fov (and any ontology
levels above it); payloads are zstd-compressed binary; all per-image
compute is Arrow-batched pandas UDFs over mapInPandas/applyInPandas.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from deepcell_data_engineering_spark.sources.codecs import (
    decode_npz,
    encode_npz,
    decode_x,
    decode_y,
    encode_x,
    encode_y,
)

IMAGES_SCHEMA = StructType(
    [
        StructField("fov", StringType(), False),
        StructField("stack", IntegerType(), False),
        StructField("crop", IntegerType(), False),
        StructField("slice", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("width", IntegerType(), False),
        StructField("channels", ArrayType(StringType()), True),
        StructField("X", BinaryType(), True),
        StructField("compartment", StringType(), True),
        StructField("y", BinaryType(), True),
    ]
)

IMAGE_KEY = ["fov", "stack", "crop", "slice"]


def rows_from_arrays(
    fov: str,
    x_stack: np.ndarray | None,
    y_stack: np.ndarray | None,
    channels: list[str] | None = None,
    compartment: str = "whole_cell",
) -> list[dict]:
    """Build images-table rows from dense per-fov arrays.

    ``x_stack``: float [stacks, h, w, c]; ``y_stack``: int [stacks, h, w].
    """
    n_stacks = (x_stack if x_stack is not None else y_stack).shape[0]
    rows = []
    for s in range(n_stacks):
        x = x_stack[s] if x_stack is not None else None
        y = y_stack[s] if y_stack is not None else None
        h, w = (x.shape[:2] if x is not None else y.shape[:2])
        nchan = x.shape[2] if x is not None else 0
        rows.append(
            {
                "fov": fov,
                "stack": s,
                "crop": 0,
                "slice": 0,
                "height": int(h),
                "width": int(w),
                "channels": channels
                if channels is not None
                else [f"channel{i}" for i in range(nchan)],
                "X": encode_x(x) if x is not None else None,
                "compartment": compartment,
                "y": encode_y(y) if y is not None else None,
            }
        )
    return rows


def images_df(spark: SparkSession, rows: Iterable[dict]) -> DataFrame:
    return spark.createDataFrame(list(rows), schema=IMAGES_SCHEMA)


# ---------------------------------------------------------------------------
# Synthetic generators mirroring the reference's test fixtures (FIXTURES.md)
# ---------------------------------------------------------------------------


def blank_images(
    spark: SparkSession,
    fovs: int = 2,
    stacks: int = 1,
    height: int = 200,
    width: int = 200,
    n_channels: int = 1,
) -> DataFrame:
    """All-zero fixture — the `_blank_data_xr` analog (crop_utils_test.py:35-64)."""
    rows = []
    for f in range(fovs):
        x = np.zeros((stacks, height, width, n_channels), dtype=np.float32)
        y = np.zeros((stacks, height, width), dtype=np.int32)
        rows += rows_from_arrays(f"fov{f + 1}", x, y)
    return images_df(spark, rows)


def rectangle_grid_labels(height: int, width: int, cell_h: int = 10, cell_w: int = 8,
                          pitch_r: int = 35, pitch_c: int = 37) -> np.ndarray:
    """Grid-of-rectangles label mask with unique ids 1..n
    (reshape_data_test.py:163-169 semantics)."""
    y = np.zeros((height, width), dtype=np.int32)
    cell_id = 1
    for r0 in range(0, height - cell_h, pitch_r):
        for c0 in range(0, width - cell_w, pitch_c):
            y[r0 : r0 + cell_h, c0 : c0 + cell_w] = cell_id
            cell_id += 1
    return y


# ---------------------------------------------------------------------------
# NPZ interop: sink (S13 save_npzs_for_caliban) and source (S15 load_npzs)
# ---------------------------------------------------------------------------


def write_npz_units(
    df: DataFrame,
    out_dir: str,
    blank_labels: str = "include",
) -> DataFrame:
    """Sink: one compressed NPZ per (fov, crop, slice) unit.

    Blank-label routing mirrors io_utils.py:80-111: units whose y sums to
    0 are 'skip'ped, 'include'd normally, or written under 'separate/'.
    Runs distributed as a grouped ``applyInPandas`` on the unit key: each
    call receives ALL of one unit's frames and writes its NPZ once (each
    task writes its own files — on a cluster ``out_dir`` is shared
    storage). Grouping, not ``repartition`` + ``mapInPandas``, because
    Arrow batches make no per-key guarantee: a unit whose frames
    straddle two batches would be written twice, the second file
    overwriting the first with only the frames of its batch.
    Returns the manifest DataFrame (unit key -> path).
    """
    import os

    if blank_labels not in ("skip", "include", "separate"):
        raise ValueError(f"invalid blank_labels mode: {blank_labels}")

    schema = StructType(
        [
            StructField("fov", StringType()),
            StructField("crop", IntegerType()),
            StructField("slice", IntegerType()),
            StructField("path", StringType()),
            StructField("blank", IntegerType()),
        ]
    )

    def write_unit(grp: pd.DataFrame) -> pd.DataFrame:
        grp = grp.sort_values("stack")
        first = grp.iloc[0]
        fov, crop, slc = first["fov"], int(first["crop"]), int(first["slice"])
        h, w = int(first["height"]), int(first["width"])
        nchan = len(first["channels"]) if first["channels"] is not None else 0
        xs = (
            np.stack([decode_x(r["X"], h, w, nchan) for _, r in grp.iterrows()])
            if first["X"] is not None
            else None
        )
        ys = np.stack([decode_y(r["y"], h, w) for _, r in grp.iterrows()])
        blank = int(ys.sum() == 0)
        os.makedirs(os.path.join(out_dir, "separate"), exist_ok=True)
        path = None
        if not (blank and blank_labels == "skip"):
            sub = "separate" if blank and blank_labels == "separate" else ""
            path = os.path.join(out_dir, sub, f"{fov}_crop_{crop}_slice_{slc}.npz")
            with open(path, "wb") as fh:
                fh.write(encode_npz(xs, ys[..., None]))
        return pd.DataFrame(
            [{"fov": fov, "crop": crop, "slice": slc, "path": path, "blank": blank}],
            columns=[f.name for f in schema.fields],
        )

    return df.groupBy("fov", "crop", "slice").applyInPandas(write_unit, schema=schema)


def read_npz_units(
    spark: SparkSession,
    glob_path: str,
    compartment: str = "whole_cell",
) -> DataFrame:
    """Source: scan NPZ unit files via Spark's binaryFile source + Arrow
    decode — the S15 load path. File names carry the unit key
    (``{fov}_crop_{c}_slice_{s}.npz``)."""
    bin_df = spark.read.format("binaryFile").load(glob_path)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                m = re.search(r"([^/]+)_crop_(\d+)_slice_(\d+)\.npz$", r["path"])
                if not m:
                    continue
                fov, crop, slc = m.group(1), int(m.group(2)), int(m.group(3))
                arrays = decode_npz(bytes(r["content"]))
                xs, ys = arrays.get("X"), arrays.get("y")
                n_stacks = (xs if xs is not None else ys).shape[0]
                for s in range(n_stacks):
                    x = xs[s] if xs is not None else None
                    y = ys[s] if ys is not None else None
                    h, w = (x.shape[:2] if x is not None else y.shape[:2])
                    rows.append(
                        {
                            "fov": fov,
                            "stack": s,
                            "crop": crop,
                            "slice": slc,
                            "height": int(h),
                            "width": int(w),
                            "channels": [f"channel{i}" for i in range(x.shape[2])]
                            if x is not None
                            else None,
                            "X": encode_x(x) if x is not None else None,
                            "compartment": compartment,
                            "y": encode_y(y) if y is not None else None,
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGES_SCHEMA.fields])

    return bin_df.mapInPandas(decode, schema=IMAGES_SCHEMA)


def write_combined_npz(df: DataFrame, out_path: str) -> int:
    """S17 `concatenate_npz_files`/`create_combined_npz`
    (pipeline.py:70-110): union all units along the batch axis into ONE
    compressed NPZ artifact. The single-file sink is the NPZ analog of
    ``coalesce(1).write`` — all rows funnel to one task which streams
    them into the archive in deterministic key order. Returns the batch
    count. (At 100 TB you would keep Parquet; this sink exists for
    format parity with the reference's notebook hand-off.)"""

    def write_all(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # accumulate ALL batches, then sort ONCE: Arrow may deliver the
        # single partition as several batches, and per-batch sorting would
        # interleave the batch axis
        parts = [pdf for pdf in batches if len(pdf)]
        xs, ys, n = [], [], 0
        if parts:
            whole = pd.concat(parts).sort_values(["fov", "crop", "slice", "stack"])
            for payload_col in ("X", "y"):
                present = whole[payload_col].notna()
                if present.any() and not present.all():
                    raise ValueError(
                        f"mixed null/non-null {payload_col} payloads would "
                        "misalign the combined batch axis; fill or drop them first"
                    )
            for _, r in whole.iterrows():
                h, w = int(r["height"]), int(r["width"])
                nchan = len(r["channels"]) if r["channels"] is not None else 0
                if r["X"] is not None:
                    xs.append(decode_x(r["X"], h, w, nchan))
                if r["y"] is not None:
                    ys.append(decode_y(r["y"], h, w))
                n += 1
        if n:
            with open(out_path, "wb") as fh:
                fh.write(
                    encode_npz(
                        np.stack(xs) if xs else None,
                        np.stack(ys)[..., None] if ys else None,
                    )
                )
        yield pd.DataFrame({"n": [n]})

    counts = df.coalesce(1).mapInPandas(write_all, schema="n long").collect()
    return int(counts[0]["n"]) if counts else 0


def fill_missing_units(
    images: DataFrame, expected_units: DataFrame
) -> DataFrame:
    """J2 semantics (io_utils.py:196-218): left-join the expected unit key
    set against found rows; absent units become blank-label rows."""
    joined = expected_units.join(images, on=IMAGE_KEY, how="left")
    return joined
