"""Connectors (manifests, URLs, missing-file anti join, NPZ round trip)
and multimodal column plumbing."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from conftest import SF_SMOKE

from deepcell_data_engineering_spark.catalog import load_table
from deepcell_data_engineering_spark.sources.codecs import decode_npz, encode_npz
from deepcell_data_engineering_spark.sources.images import (
    images_df,
    read_npz_units,
    rectangle_grid_labels,
    rows_from_arrays,
    write_npz_units,
)
from deepcell_data_engineering_spark.sources.manifests import (
    create_upload_log,
    format_job_url,
    latest_log_name,
    listed_files,
    missing_files_report,
    next_log_name,
    read_manifest,
    write_manifest,
)
from deepcell_data_engineering_spark.sources.multimodal import (
    MEDIA_SCHEMA,
    decode_media,
    extract_features,
    resize_media,
    sample_frames,
)


def test_job_url_projection():
    url = format_job_url("2020/exp1", "stage_0", "fov1.npz", pixel_only=True)
    assert "2020__exp1" in url and "stage_0" in url and url.endswith(
        "?pixel_only=True&label_only=False&rgb=False"
    )


def test_manifest_roundtrip_and_latest(spark, tmp_path):
    mf = create_upload_log(
        spark, "stage_0", "exp/a", [f"fov{i}.npz" for i in range(4)], job_id=9
    )
    assert mf.columns == [
        "project_url", "filename", "stage", "aws_folder", "job_id",
        "pixel_only", "label_only", "rgb_mode",
    ]
    path = str(tmp_path / "stage_0_upload_log.csv")
    write_manifest(mf, path)
    back = read_manifest(spark, path)
    assert back.count() == 4
    assert latest_log_name(["stage_0_log.csv", "stage_2_log.csv", "stage_1_log.csv"]) == "stage_2_log.csv"
    assert next_log_name("stage_2_log.csv") == "stage_3_log.csv"
    with pytest.raises(ValueError):
        next_log_name("not_a_stage.csv")


def test_missing_files_anti_join(spark, tmp_path):
    mf = create_upload_log(spark, "stage_0", "exp", [f"f{i}.npz" for i in range(5)])
    # only 3 of 5 'downloaded'
    for i in [0, 2, 4]:
        (tmp_path / f"f{i}.npz").write_bytes(encode_npz(None, np.zeros((1, 2, 2, 1))))
    actual = listed_files(spark, str(tmp_path), glob="*.npz")
    missing = sorted(r["filename"] for r in missing_files_report(mf, actual).collect())
    assert missing == ["f1.npz", "f3.npz"]


def test_npz_sink_and_source_roundtrip(spark, tmp_path):
    y = rectangle_grid_labels(60, 60, cell_h=6, cell_w=6, pitch_r=20, pitch_c=20)
    x = np.random.default_rng(0).random((2, 60, 60, 1)).astype(np.float32)
    df = images_df(spark, rows_from_arrays("fovA", x, np.stack([y, y])))
    manifest = write_npz_units(df, str(tmp_path / "units"), blank_labels="include")
    rows = manifest.collect()
    assert len(rows) == 1 and rows[0]["blank"] == 0
    back = read_npz_units(spark, str(tmp_path / "units/*.npz"))
    assert back.count() == 2  # two stacks rehydrated
    r = back.where("stack = 1").collect()[0]
    assert (r["fov"], r["crop"], r["slice"]) == ("fovA", 0, 0)
    arrs = decode_npz(open(rows[0]["path"], "rb").read())
    np.testing.assert_array_equal(arrs["y"][0, :, :, 0], y)


def test_npz_sink_keeps_units_that_straddle_arrow_batches(spark, tmp_path):
    """Every NPZ holds ALL of its unit's frames even when the unit's rows
    arrive in several Arrow batches (2 records per batch, 4 stacks per
    unit): each stack round-trips."""
    y = rectangle_grid_labels(30, 30, cell_h=5, cell_w=5, pitch_r=10, pitch_c=10)
    rng = np.random.default_rng(1)
    rows, stacks = [], {}
    for f in range(3):
        x = rng.random((4, 30, 30, 1)).astype(np.float32)
        ys = np.stack([y * (s + 1) for s in range(4)])
        rows += rows_from_arrays(f"fov{f}", x, ys)
        stacks[f"fov{f}"] = (x, ys)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        out = write_npz_units(images_df(spark, rows), str(tmp_path / "u")).collect()
    finally:
        spark.conf.set(key, old)
    assert sorted(r["fov"] for r in out) == ["fov0", "fov1", "fov2"]
    for r in out:
        arrs = decode_npz(open(r["path"], "rb").read())
        x, ys = stacks[r["fov"]]
        np.testing.assert_array_equal(arrs["y"][..., 0], ys)
        np.testing.assert_array_equal(arrs["X"], x)
    back = read_npz_units(spark, str(tmp_path / "u/*.npz"))
    assert back.count() == 12


def test_npz_blank_routing(spark, tmp_path):
    blank = np.zeros((1, 20, 20), dtype=np.int32)
    df = images_df(spark, rows_from_arrays("fovB", None, blank))
    skipped = write_npz_units(df, str(tmp_path / "skip"), blank_labels="skip").collect()
    assert skipped[0]["blank"] == 1 and skipped[0]["path"] is None
    sep = write_npz_units(df, str(tmp_path / "sep"), blank_labels="separate").collect()
    assert "/separate/" in sep[0]["path"]
    with pytest.raises(ValueError):
        write_npz_units(df, str(tmp_path / "bad"), blank_labels="bogus")


@pytest.fixture()
def media(spark):
    rows = [
        {
            "media_id": i,
            "kind": "video" if i % 2 else "image",
            "format": "fake-raw",
            "meta": {"height": 16, "width": 12, "n_channels": 3,
                     "n_frames": 4 if i % 2 else 1, "sample_rate": None},
            "payload": bytes([i]) * 32,
        }
        for i in range(4)
    ]
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def test_decode_stub_contract():
    meta = {"height": 1, "width": 1, "n_channels": 1, "n_frames": 1}
    # tiff/png/jpg decode for REAL now (pycodecs/pyjpeg); only video gates
    from deepcell_data_engineering_spark.sources.pycodecs import encode_tiff
    from deepcell_data_engineering_spark.sources.pyjpeg import encode_jpeg

    img = np.arange(6, dtype=np.uint16).reshape(2, 3)
    out = decode_media("tiff", encode_tiff(img), meta)
    assert out.shape == (1, 2, 3, 1)
    np.testing.assert_array_equal(out[0, :, :, 0], img.astype(np.float32))
    jimg = np.full((8, 8), 77, np.uint8)
    jout = decode_media("jpg", encode_jpeg(jimg), meta)
    assert jout.shape == (1, 8, 8, 1)
    np.testing.assert_array_equal(jout[0, :, :, 0], jimg.astype(np.float32))
    # malformed video payloads fail the PROBE (quarantine ValueError)
    # before the ffmpeg gate is consulted
    with pytest.raises(ValueError):
        decode_media("mp4", b"x", meta)
    from deepcell_data_engineering_spark.sources.multimodal import (
        _ffmpeg_binary,
    )

    if _ffmpeg_binary() is None:  # well-formed container hits the gate
        with pytest.raises(NotImplementedError, match="ffmpeg"):
            decode_media("mp4", _minimal_mp4(), meta)
    with pytest.raises(ValueError):
        decode_media("bogus", b"x", meta)
    a = decode_media("fake-raw", b"abc", {"height": 4, "width": 3, "n_channels": 2, "n_frames": 1})
    b = decode_media("fake-raw", b"abc", {"height": 4, "width": 3, "n_channels": 2, "n_frames": 1})
    np.testing.assert_array_equal(a, b)  # deterministic fake


def test_extract_features(spark, media):
    out = {r["media_id"]: r for r in extract_features(media).collect()}
    assert len(out) == 4
    assert len(out[0]["mean"]) == 3 and len(out[0]["std"]) == 3
    assert out[1]["n_frames"] == 4
    assert all(0.0 < m < 1.0 for m in out[0]["mean"])


def test_sample_frames_fanout(spark, media):
    frames = sample_frames(media.where("kind = 'video'"), every_n=2).collect()
    # 2 videos x 4 frames sampled every 2 -> 2 frames each
    assert len(frames) == 4
    assert {f["frame_idx"] for f in frames} == {0, 2}
    f0 = frames[0]
    arr = np.frombuffer(f0["frame"], dtype=np.float32).reshape(
        f0["height"], f0["width"], f0["n_channels"]
    )
    assert arr.shape == (16, 12, 3)


def test_resize_media_roundtrip(spark, media):
    resized = resize_media(media, 8, 6)
    rows = {r["media_id"]: r for r in resized.collect()}
    assert rows[0]["format"] == "raw-f32"
    assert rows[0]["meta"]["height"] == 8 and rows[0]["meta"]["width"] == 6
    # decoded resized payload has the new dims; features still computable
    feats = extract_features(resized).collect()
    assert len(feats) == 4


def test_jsonl_roundtrip_and_quarantine(spark, tmp_path):
    from deepcell_data_engineering_spark.sources.corpus import (
        read_jsonl,
        write_jsonl,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    p = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, p)
    # (Spark disallows filtering on ONLY the corrupt column from a raw
    # scan, so materialize full rows first.)
    back = read_jsonl(spark, p).collect()
    assert all(r["_corrupt"] is None for r in back)
    a = sorted(map(tuple, docs.collect()))
    b = sorted(tuple(r)[:-1] for r in back)
    assert a == b
    # corrupt line -> quarantined, not fatal
    bad = tmp_path / "bad.jsonl"
    bad.write_text('{"doc_id": 1, "text": "ok"}\n{not json}\n')
    q = read_jsonl(spark, str(bad)).collect()
    assert len(q) == 2
    assert sum(r["_corrupt"] is not None for r in q) == 1


def test_csv_roundtrip(spark, tmp_path):
    from deepcell_data_engineering_spark.sources.corpus import (
        DOCUMENTS_SCHEMA,
        read_csv,
        write_csv,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    p = str(tmp_path / "docs_csv")
    write_csv(docs, p)
    back = read_csv(spark, p, DOCUMENTS_SCHEMA)
    assert sorted(map(tuple, docs.collect())) == sorted(
        map(tuple, back.collect())
    )


def test_orc_roundtrip(spark, tmp_path):
    from deepcell_data_engineering_spark.catalog import load_table
    from deepcell_data_engineering_spark.sources.corpus import read_orc, write_orc

    docs = load_table(spark, SF_SMOKE, "documents")
    p = str(tmp_path / "docs_orc")
    write_orc(docs, p)
    back = read_orc(spark, p)
    assert back.schema == docs.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))
    # predicate pushdown reaches the ORC scan like parquet
    plan = back.where(back.n_chars > 300)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "n_chars" in plan


def test_partitioned_corpus_prunes_partitions(spark, tmp_path):
    from deepcell_data_engineering_spark.catalog import load_table
    from deepcell_data_engineering_spark.sources.corpus import (
        read_corpus_partitioned,
        write_corpus_partitioned,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    p = str(tmp_path / "docs_part")
    write_corpus_partitioned(docs, p, partition_cols=("lang",))
    back = read_corpus_partitioned(spark, p)
    # row fidelity (column order differs: partition col moves last)
    assert back.count() == docs.count()
    one = back.where(back.lang == "en")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan
    n_en = docs.where(docs.lang == "en").count()
    assert one.count() == n_en


def test_decode_media_multipage_tiff_maps_pages_to_frames():
    """A multi-page TIFF payload (microscope z/t stack) decodes to one
    frame per page — previously only page 1 survived."""
    from deepcell_data_engineering_spark.sources.multimodal import decode_media
    from deepcell_data_engineering_spark.sources.pycodecs import encode_tiff_stack

    stack = np.arange(3 * 4 * 5, dtype=np.uint16).reshape(3, 4, 5)
    out = decode_media("tiff", encode_tiff_stack(stack), None)
    assert out.shape == (3, 4, 5, 1) and out.dtype == np.float32
    np.testing.assert_array_equal(out[..., 0], stack.astype(np.float32))


def test_xml_roundtrip(spark, tmp_path):
    """Spark 4 native XML interchange: documents round-trip through one
    <doc> element per row with the declared schema."""
    from deepcell_data_engineering_spark.sources.corpus import read_xml, write_xml

    docs = load_table(spark, SF_SMOKE, "documents")
    p = str(tmp_path / "docs_xml")
    write_xml(docs, p)
    back = read_xml(spark, p)
    assert sorted(map(tuple, docs.collect())) == sorted(map(tuple, back.collect()))


# ---------------------------------------------------------------------------
# Video container probing (metadata without codecs)
# ---------------------------------------------------------------------------


def _box(typ: bytes, payload: bytes) -> bytes:
    import struct

    return struct.pack(">I", 8 + len(payload)) + typ + payload


def _full(version: int, payload: bytes) -> bytes:
    return bytes([version, 0, 0, 0]) + payload


def _minimal_mp4(timescale=1000, duration=4500, w=640, h=360, version=0):
    import struct

    if version == 0:
        mvhd = _full(0, struct.pack(">IIII", 0, 0, timescale, duration) + b"\0" * 80)
    else:
        mvhd = _full(1, struct.pack(">QQIQ", 0, 0, timescale, duration) + b"\0" * 80)
    tkhd = _full(
        0,
        struct.pack(">IIIII", 0, 0, 1, 0, duration)
        + b"\0" * 52
        + struct.pack(">II", w << 16, h << 16),
    )
    stsd = _full(0, struct.pack(">I", 1) + struct.pack(">I4s", 16, b"avc1") + b"\0" * 8)
    stbl = _box(b"stbl", _box(b"stsd", stsd))
    minf = _box(b"minf", stbl)
    hdlr = _full(0, struct.pack(">I4s", 0, b"vide") + b"\0" * 12)
    mdia = _box(b"mdia", _box(b"hdlr", hdlr) + minf)
    trak = _box(b"trak", _box(b"tkhd", tkhd) + mdia)
    moov = _box(b"moov", _box(b"mvhd", mvhd) + trak)
    return _box(b"ftyp", b"isom" + b"\0" * 8) + moov


def _minimal_avi(us_per_frame=40000, frames=250, streams=1, w=320, h=240):
    import struct

    avih = struct.pack(
        "<IIIIIIIIII", us_per_frame, 0, 0, 0, frames, 0, streams, 0, w, h
    ) + b"\0" * 16
    strh = b"vids" + b"MJPG" + b"\0" * 48
    strl = b"LIST" + struct.pack("<I", 4 + 8 + len(strh)) + b"strl" + b"strh" + struct.pack("<I", len(strh)) + strh
    hdrl_body = b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih + strl
    hdrl = b"LIST" + struct.pack("<I", len(hdrl_body)) + hdrl_body
    body = b"AVI " + hdrl
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_probe_mp4_versions_and_fields():
    from deepcell_data_engineering_spark.sources.multimodal import probe_mp4

    p = probe_mp4(_minimal_mp4())
    assert p["brand"] == "isom"
    assert p["duration_s"] == 4.5
    assert p["n_tracks"] == 1
    assert (p["width"], p["height"]) == (640, 360)
    assert p["codecs"] == ["avc1"]
    # version-1 (64-bit) mvhd parses identically
    p1 = probe_mp4(_minimal_mp4(version=1, duration=9000, timescale=600))
    assert p1["duration_s"] == 15.0
    with pytest.raises(ValueError):
        probe_mp4(b"\x00\x00\x00\x08mdat" + b"junk")


def test_probe_avi_fields():
    from deepcell_data_engineering_spark.sources.multimodal import probe_avi

    p = probe_avi(_minimal_avi())
    assert p["duration_s"] == 10.0  # 250 frames * 40ms
    assert p["n_streams"] == 1
    assert (p["width"], p["height"]) == (320, 240)
    assert p["codecs"] == ["vids:MJPG"]
    assert p["n_frames"] == 250
    with pytest.raises(ValueError):
        probe_avi(b"RIFX" + b"\0" * 20)


def test_probe_media_dataframe_quarantines_malformed(spark):
    from deepcell_data_engineering_spark.sources.multimodal import probe_media

    rows = [
        (1, "video", "mp4", None, bytearray(_minimal_mp4())),
        (2, "video", "avi", None, bytearray(_minimal_avi())),
        (3, "video", "mp4", None, bytearray(b"not a video")),
        (4, "video", "mkv", None, bytearray(b"\x1a\x45\xdf\xa3")),
    ]
    df = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in probe_media(df).collect()}
    assert got[1]["duration_s"] == 4.5 and got[1]["codecs"] == ["avc1"]
    assert got[2]["n_tracks"] == 1 and got[2]["width"] == 320
    assert got[3]["probe_error"] and got[3]["duration_s"] is None
    assert "no prober" in got[4]["probe_error"]
    # decode remains honestly gated where ffmpeg is absent: probing
    # works, decoding raises the named gate
    from deepcell_data_engineering_spark.sources.multimodal import (
        _ffmpeg_binary,
        decode_media,
    )

    if _ffmpeg_binary() is None:
        with pytest.raises(NotImplementedError, match="ffmpeg"):
            decode_media("mp4", _minimal_mp4(), None)


def test_video_decode_probe_quarantine_precedes_ffmpeg_gate():
    """Malformed containers must fail the PROBE (ValueError — the
    quarantine class probe_media catches) before the ffmpeg gate is
    even consulted, so quarantine behavior is identical with and
    without the binary; well-formed containers hit the gate only when
    ffmpeg is absent."""
    from deepcell_data_engineering_spark.sources.multimodal import (
        _ffmpeg_binary,
        decode_media,
    )

    with pytest.raises(ValueError):
        decode_media("mp4", b"not a video at all", None)
    with pytest.raises(ValueError):
        decode_media("avi", b"RIFX" + b"\0" * 20, None)
    if _ffmpeg_binary() is None:
        with pytest.raises(NotImplementedError, match="ffmpeg"):
            decode_media("avi", _minimal_avi(), None)


@pytest.mark.skipif(
    __import__("shutil").which("ffmpeg") is None,
    reason="ffmpeg binary not on PATH",
)
def test_video_decode_real_frames_via_ffmpeg(tmp_path):
    """Where ffmpeg exists: synthesize a tiny mp4 with it, then decode
    through the engine path and check the [n, h, w, 3] float32 tensor
    contract."""
    import subprocess

    from deepcell_data_engineering_spark.sources.multimodal import decode_media

    out = tmp_path / "clip.mp4"
    subprocess.run(
        [
            "ffmpeg", "-v", "error", "-f", "lavfi",
            "-i", "testsrc=duration=0.5:size=64x48:rate=10",
            "-pix_fmt", "yuv420p", str(out),
        ],
        check=True,
    )
    arr = decode_media("mp4", out.read_bytes(), None)
    assert arr.dtype == np.float32
    assert arr.shape[0] == 5 and arr.shape[1:] == (48, 64, 3)
    assert 0.0 <= arr.min() and arr.max() <= 255.0
