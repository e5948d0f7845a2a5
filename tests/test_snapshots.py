"""Manifest-based snapshot versioning: time travel, append/overwrite/
replace semantics, atomicity-by-construction, vacuum."""

import os

import pytest
from pyspark.sql import functions as F

from deepcell_data_engineering_spark.catalog import load_table
from deepcell_data_engineering_spark.sources import snapshots as snap

from conftest import SF_SMOKE


def _rows(df):
    return sorted(map(tuple, df.select("doc_id", "source").collect()))


def test_append_versions_and_time_travel(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    a = docs.where(F.col("doc_id") < 50)
    b = docs.where((F.col("doc_id") >= 50) & (F.col("doc_id") < 80))

    assert snap.current_version(t) is None
    v0 = snap.commit(spark, a, t)
    v1 = snap.commit(spark, b, t, mode="append")
    assert (v0, v1) == (0, 1)
    assert snap.current_version(t) == 1

    # time travel: v0 is exactly the first batch, AFTER later commits
    assert _rows(snap.read_snapshot(spark, t, 0)) == _rows(a)
    assert _rows(snap.read_snapshot(spark, t, 1)) == _rows(a.unionByName(b))
    assert _rows(snap.read_snapshot(spark, t)) == _rows(a.unionByName(b))


def test_overwrite_and_replace_preserve_history(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    a = docs.where(F.col("doc_id") < 50)
    snap.commit(spark, a, t)
    small = docs.where(F.col("doc_id") < 5)
    v1 = snap.commit(spark, small, t, mode="overwrite")
    assert _rows(snap.read_snapshot(spark, t, v1)) == _rows(small)
    assert _rows(snap.read_snapshot(spark, t, 0)) == _rows(a)

    # compaction: same content, fewer files, old version undisturbed
    cur = snap.read_snapshot(spark, t, v1)
    v2 = snap.commit(spark, cur.coalesce(1), t, mode="replace")
    assert _rows(snap.read_snapshot(spark, t, v2)) == _rows(small)
    assert _rows(snap.read_snapshot(spark, t, v1)) == _rows(small)
    ops = [h["op"] for h in snap.history(t)]
    assert ops == ["append", "overwrite", "replace"]


def test_vacuum_deletes_only_unreferenced(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    a = docs.where(F.col("doc_id") < 50)
    b = docs.where((F.col("doc_id") >= 50) & (F.col("doc_id") < 80))
    snap.commit(spark, a, t)
    snap.commit(spark, b, t, mode="append")
    snap.commit(spark, docs.where(F.col("doc_id") < 5), t, mode="overwrite")

    removed = snap.vacuum(t, keep_last=1)
    # v0/v1's dirs are unreferenced by v2 (overwrite) -> both deleted
    assert len(removed) == 2
    assert _rows(snap.read_snapshot(spark, t)) == _rows(
        docs.where(F.col("doc_id") < 5)
    )
    with pytest.raises(ValueError):
        snap.read_snapshot(spark, t, 0)
    # vacuum with everything retained deletes nothing
    assert snap.vacuum(t, keep_last=10) == []


def test_vacuum_keeps_shared_dirs_of_append_chain(spark, tmp_path):
    """An append chain shares directories across versions: keeping the
    last 2 versions must keep v0's dir too (v1/v2 reference it)."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    snap.commit(spark, docs.where(F.col("doc_id") < 10), t)
    snap.commit(
        spark,
        docs.where((F.col("doc_id") >= 10) & (F.col("doc_id") < 20)),
        t,
        mode="append",
    )
    snap.commit(
        spark,
        docs.where((F.col("doc_id") >= 20) & (F.col("doc_id") < 30)),
        t,
        mode="append",
    )
    removed = snap.vacuum(t, keep_last=2)
    assert removed == []  # every dir is referenced by v1 or v2
    assert len(_rows(snap.read_snapshot(spark, t))) == 30
    # v0's manifest is dropped even though its dir survives (shared)
    assert snap.history(t)[0].get("vacuumed") is True


def test_commit_is_manifest_last(spark, tmp_path):
    """Crash between data write and manifest publish must leave the
    table at its previous version (the atomicity contract): simulate by
    writing data without a manifest and checking readers are blind to
    it."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    snap.commit(spark, docs.where(F.col("doc_id") < 10), t)
    # orphan data dir, no manifest (the crash window)
    docs.where(F.col("doc_id") >= 90).write.parquet(
        os.path.join(t, "data", "c999999-deadbeef")
    )
    assert snap.current_version(t) == 0
    assert len(_rows(snap.read_snapshot(spark, t))) == 10
    # and vacuum reclaims the orphan
    assert snap.vacuum(t, keep_last=1) == [
        os.path.join("data", "c999999-deadbeef")
    ]


def test_streaming_commit_sink_is_exactly_once(spark, tmp_path):
    """foreachBatch committing micro-batches into the snapshot log with
    batch_id dedup: the stream lands every batch exactly once, and
    REPLAYING a batch (the failed-epoch retry) is a no-op returning
    the original version — the table never double-counts."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    src = str(tmp_path / "src")
    for i in range(3):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    t = str(tmp_path / "tbl")

    def sink(bdf, bid):
        snap.commit(spark, bdf, t, mode="append", batch_id=bid)

    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    latest = snap.current_version(t)
    n = snap.read_snapshot(spark, t).count()
    assert n == docs.count()
    # replay batch 0: same batch_id -> no new version, no new rows
    replay = docs.where(F.col("doc_id") % 3 == 0)
    v = snap.commit(spark, replay, t, mode="append", batch_id=0)
    assert v == 0 and snap.current_version(t) == latest
    assert snap.read_snapshot(spark, t).count() == n
    # a genuinely new batch id still lands
    v2 = snap.commit(spark, replay.limit(1), t, mode="append", batch_id=99)
    assert v2 == latest + 1
    assert snap.read_snapshot(spark, t).count() == n + 1


def test_read_snapshot_merges_evolved_schema(spark, tmp_path):
    """Schema evolution: a column added in a later append reads as NULL
    for the older commits under merge_schema=True."""
    docs = load_table(spark, SF_SMOKE, "documents")
    t = str(tmp_path / "tbl")
    snap.commit(spark, docs.select("doc_id", "source").limit(10), t)
    snap.commit(
        spark,
        docs.select("doc_id", "source", "lang").where(F.col("doc_id") >= 90),
        t,
        mode="append",
    )
    merged = snap.read_snapshot(spark, t, merge_schema=True)
    assert set(merged.columns) == {"doc_id", "source", "lang"}
    assert merged.where(F.col("lang").isNull()).count() == 10
    assert merged.where(F.col("lang").isNotNull()).count() > 0


def test_concurrent_writer_conflict_retries_not_overwrites(spark, tmp_path):
    """A writer that loses the manifest race must RETRY against the new
    parent, never overwrite the winner's commit (ADVICE r7: the old
    os.replace publish was last-writer-wins)."""
    import json
    import uuid

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    a = docs.where(F.col("doc_id") < 30)
    snap.commit(spark, a, t)

    # A concurrent winner: hand-publish v1 the way commit() would,
    # before our writer reads the head (it never loses a put here;
    # test_lost_publish_race_reconciles_against_the_winner does).
    b = docs.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 40))
    win_dir = os.path.join(t, "data", f"c{uuid.uuid4().hex[:12]}")
    b.write.parquet(win_dir)
    v0_dirs = json.load(open(os.path.join(t, "_manifests", "v000000.json")))[
        "dirs"
    ]
    winner = {
        "version": 1,
        "parent": 0,
        "op": "append",
        "dirs": v0_dirs + [os.path.relpath(win_dir, t)],
    }
    with open(os.path.join(t, "_manifests", "v000001.json"), "w") as fh:
        json.dump(winner, fh)

    c = docs.where((F.col("doc_id") >= 40) & (F.col("doc_id") < 45))
    v = snap.commit(spark, c, t, mode="append")
    assert v == 2  # retried past the winner, did not clobber it
    assert _rows(snap.read_snapshot(spark, t, 1)) == _rows(a.unionByName(b))
    assert _rows(snap.read_snapshot(spark, t, 2)) == _rows(
        a.unionByName(b).unionByName(c)
    )


class _LosesNextPut(snap.InMemoryManifestStore):
    """An object store on which the next manifest put, once
    ``rival_dir`` is set, loses the race: a competing append of
    ``rival_dir`` (with ``rival``'s extra fields) lands at the contested
    version first, and the put reports the key taken."""

    rival_dir: str | None = None
    rival: dict = {}

    def put_if_absent(self, path: str, data: bytes) -> bool:
        import json

        name = os.path.basename(path)
        if self.rival_dir is None or not name.startswith("v"):
            return super().put_if_absent(path, data)
        v = int(name[1:7])
        head = json.loads(self.get(snap._manifest_path(
            os.path.dirname(os.path.dirname(path)), v - 1
        )))
        winner = {"version": v, "parent": v - 1, "op": "append",
                  "dirs": head["dirs"] + [self.rival_dir], **self.rival}
        self.rival_dir = None
        assert super().put_if_absent(path, json.dumps(winner).encode())
        return False


def test_lost_publish_race_reconciles_against_the_winner(spark, tmp_path):
    """Each put below loses to a competing append that lands first, so
    the publish step's post-race reconcile runs every time (the
    threaded race tests reach it only by chance): a plain append lands
    after the winner, a replayed ``batch_id`` the winner carries
    returns the winner's version, a pinned ``expected_parent`` raises,
    and a rewrite rebases over the winning append."""
    import uuid

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    store = _LosesNextPut()

    def rival(lo, hi, **extra):
        d = os.path.join(t, snap._DATA_DIR, f"c{uuid.uuid4().hex[:12]}")
        docs.where(F.col("doc_id").between(lo, hi - 1)).write.parquet(d)
        store.rival_dir, store.rival = os.path.relpath(d, t), extra

    def rows(v):
        return _rows(snap.read_snapshot(spark, t, v, store=store))

    def want(*spans):
        return sorted(
            r for lo, hi in spans
            for r in _rows(docs.where(F.col("doc_id").between(lo, hi - 1)))
        )

    assert snap.commit(spark, docs.where("doc_id < 30"), t, store=store) == 0
    rival(30, 40)
    v = snap.commit(spark, docs.where("doc_id BETWEEN 40 AND 44"), t,
                    store=store)
    assert v == 2  # landed after the winner, did not clobber it
    assert rows(1) == want((0, 40))
    assert rows(2) == want((0, 45))

    rival(50, 55, batch_id=7)
    v = snap.commit(spark, docs.where("doc_id BETWEEN 60 AND 64"), t,
                    batch_id=7, store=store)
    assert v == 3  # the winner already committed batch 7
    assert snap.current_version(t, store) == 3
    assert rows(3) == want((0, 45), (50, 55))

    rival(70, 75)
    with pytest.raises(snap.SnapshotConflictError, match="expected_parent=3"):
        snap.commit(spark, docs.where("doc_id BETWEEN 80 AND 84"), t,
                    expected_parent=3, store=store)
    assert snap.current_version(t, store) == 4  # only the winner landed

    rival(90, 95)
    v = snap.delete_where(spark, t, "doc_id < 10", store=store)
    assert v == 6  # rebased over the winning append at v5
    assert rows(6) == want((10, 45), (50, 55), (70, 75), (90, 95))


def test_schemed_paths_rejected(spark):
    docs = None
    with pytest.raises(ValueError, match="POSIX"):
        snap.commit(spark, docs, "s3a://bucket/tbl")
    with pytest.raises(ValueError, match="POSIX"):
        snap.read_snapshot(spark, "hdfs://nn/tbl")
    with pytest.raises(ValueError, match="POSIX"):
        snap.vacuum("s3a://bucket/tbl")


def test_checkpoint_bounds_batch_dedup_reads(spark, tmp_path, monkeypatch):
    """After many commits the batch-id replay check reads O(interval)
    manifests via the folded checkpoint, not the whole log."""
    one = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "source")
        .limit(1)
    )
    t = str(tmp_path / "tbl")
    n_commits = 25
    for i in range(n_commits):
        snap.commit(spark, one, t, mode="append", batch_id=i)
    # checkpoints landed every _CHECKPOINT_INTERVAL commits
    ckpts = [
        f
        for f in os.listdir(os.path.join(t, "_manifests"))
        if f.startswith("ckpt-")
    ]
    assert len(ckpts) == n_commits // snap._CHECKPOINT_INTERVAL

    reads = {"n": 0}
    real = snap._load_manifest

    def counting(table_path, version, *args):
        reads["n"] += 1
        return real(table_path, version, *args)

    monkeypatch.setattr(snap, "_load_manifest", counting)
    # replay an OLD batch id (covered only by the checkpoint fold)
    v = snap.commit(spark, one, t, mode="append", batch_id=3)
    assert v == 3
    assert reads["n"] <= snap._CHECKPOINT_INTERVAL + 2
    # and a fresh commit still lands normally
    monkeypatch.setattr(snap, "_load_manifest", real)
    assert snap.commit(spark, one, t, mode="append", batch_id=999) == n_commits


def test_optimize_is_atomic_replace_commit(spark, tmp_path):
    """OPTIMIZE publishes as a replace commit: content identical, file
    count reduced, time travel still reads the fragmented version, and
    vacuum reclaims the replaced directories."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    snap.commit(spark, docs.repartition(16), t)

    def n_files(v):
        return (
            snap.read_snapshot(spark, t, v)
            .select(F.col("_metadata.file_path"))
            .distinct()
            .count()
        )

    assert n_files(0) == 16
    v1 = snap.optimize_table(spark, t, target_file_bytes=128 << 20)
    assert v1 == 1
    assert snap.history(t)[-1]["op"] == "replace"
    assert _rows(snap.read_snapshot(spark, t, 1)) == _rows(docs)
    assert n_files(1) < 16
    # time travel: the pre-compaction version is undisturbed
    assert _rows(snap.read_snapshot(spark, t, 0)) == _rows(docs)
    # already-compacted table: no-op, no new version
    assert snap.optimize_table(spark, t, target_file_bytes=128 << 20) == 1
    # vacuum reclaims the 16-file directory once unreferenced
    removed = snap.vacuum(t, keep_last=1)
    assert len(removed) == 1
    assert _rows(snap.read_snapshot(spark, t, 1)) == _rows(docs)
    with pytest.raises(ValueError, match="vacuumed"):
        snap.read_snapshot(spark, t, 0)


def test_crash_window_leaves_old_version_intact(spark, tmp_path):
    """Manifest-written-last: a writer that dies after the data write
    but before the manifest publish leaves the table at the old
    version; the orphan directory is invisible to readers and the next
    vacuum removes it."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    a = docs.where(F.col("doc_id") < 30)
    snap.commit(spark, a, t)

    # simulate the crash: data lands, manifest never does
    orphan = os.path.join(t, "data", "c_deadbeef_crashed")
    docs.where(F.col("doc_id") >= 30).write.parquet(orphan)

    assert snap.current_version(t) == 0
    assert _rows(snap.read_snapshot(spark, t)) == _rows(a)
    removed = snap.vacuum(t, keep_last=1)
    assert os.path.join("data", "c_deadbeef_crashed") in removed
    assert not os.path.exists(orphan)
    assert _rows(snap.read_snapshot(spark, t)) == _rows(a)


def test_concurrent_writers_threaded_no_lost_commits(spark, tmp_path):
    """Four writer threads race 3 appends each through the optimistic
    publish loop: every commit must land (16 distinct versions incl.
    the seed, no overwrites), and the final table must contain every
    writer's rows exactly once."""
    import threading

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    snap.commit(spark, docs.where(F.col("doc_id") < 0), t)  # empty seed

    errors = []

    def writer(wid):
        try:
            for j in range(3):
                lo = wid * 30 + j * 10
                batch = docs.where(
                    (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 10)
                )
                snap.commit(spark, batch, t, mode="append")
        except Exception as ex:  # pragma: no cover
            errors.append(ex)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    assert snap.current_version(t) == 12  # seed + 4x3, none lost
    hist = snap.history(t)
    assert len(hist) == 13 and not any(h.get("vacuumed") for h in hist)
    got = snap.read_snapshot(spark, t)
    expected = docs.where(F.col("doc_id") < 120)
    assert got.count() == expected.count()
    assert _rows(got) == _rows(expected)


def test_expected_parent_guards_stale_rewrites(spark, tmp_path):
    """A rewrite pinned to the version it was derived from must raise
    when a concurrent commit advances the head in the read->publish
    window (ADVICE r8: blind retry silently dropped the interloper's
    rows from replace-mode heads)."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    a = docs.where(F.col("doc_id") < 30)
    v0 = snap.commit(spark, a, t)

    # derive a rewrite from v0, then lose the race to an append
    rewrite = snap.read_snapshot(spark, t, v0).coalesce(1)
    interloper = docs.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 40))
    snap.commit(spark, interloper, t, mode="append")

    with pytest.raises(snap.SnapshotConflictError, match="expected_parent"):
        snap.commit(spark, rewrite, t, mode="replace", expected_parent=v0)
    # the interloper's rows are still at the head — nothing vanished
    assert _rows(snap.read_snapshot(spark, t)) == _rows(
        a.unionByName(interloper)
    )
    # re-derived against the new head, the rewrite lands
    head = snap.current_version(t)
    v2 = snap.commit(
        spark,
        snap.read_snapshot(spark, t, head).coalesce(1),
        t,
        mode="replace",
        expected_parent=head,
    )
    assert v2 == head + 1
    assert _rows(snap.read_snapshot(spark, t)) == _rows(
        a.unionByName(interloper)
    )
    # expected_parent=None means "I derived from an empty table"
    with pytest.raises(snap.SnapshotConflictError):
        snap.commit(spark, rewrite, t, mode="overwrite", expected_parent=None)


def test_optimize_rebases_over_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """OPTIMIZE pins expected_parent to the version it rewrote; an
    append landing between its read and its publish auto-REBASES
    (Delta's OPTIMIZE-vs-append non-conflict rule): the appended
    directory rides along uncompacted, nothing vanishes."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    snap.commit(spark, docs.where(F.col("doc_id") < 30).repartition(16), t)

    late = docs.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 40))
    real_publish = snap._publish
    state = {"injected": False}

    def racing_publish(table_path, st, op, *args, **kw):
        # first publish attempt from optimize_table: sneak an append in
        if not state["injected"] and op == "replace":
            state["injected"] = True
            snap.commit(spark, late, table_path, mode="append")
        return real_publish(table_path, st, op, *args, **kw)

    monkeypatch.setattr(snap, "_publish", racing_publish)
    v = snap.optimize_table(spark, t, target_file_bytes=128 << 20)
    monkeypatch.setattr(snap, "_publish", real_publish)
    # nothing vanished: compacted base + the interleaved append
    assert _rows(snap.read_snapshot(spark, t)) == _rows(
        docs.where(F.col("doc_id") < 40)
    )
    assert snap.history(t)[-1]["op"] == "replace"
    m = snap._load_manifest(t, v, snap._POSIX)
    append_m = snap._load_manifest(t, v - 1, snap._POSIX)
    assert append_m["op"] == "append"
    # the append's fresh dir rides in the rebased head uncompacted
    parent_dirs = set(
        snap._load_manifest(t, v - 2, snap._POSIX)["dirs"]
    )
    late_dirs = set(append_m["dirs"]) - parent_dirs
    assert late_dirs and late_dirs <= set(m["dirs"])


def test_in_memory_store_full_protocol(spark, tmp_path):
    """The object-store model (conditional PUT) drives the same commit
    protocol end-to-end: append chain, time travel, batch-id dedup,
    expected_parent conflicts — proving the log is substrate-neutral."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    store = snap.InMemoryManifestStore()
    a = docs.where(F.col("doc_id") < 20)
    b = docs.where((F.col("doc_id") >= 20) & (F.col("doc_id") < 30))
    v0 = snap.commit(spark, a, t, store=store, batch_id=0)
    v1 = snap.commit(spark, b, t, mode="append", store=store, batch_id=1)
    assert (v0, v1) == (0, 1)
    # no POSIX manifest dir exists — the log lives in the store
    assert not os.path.isdir(os.path.join(t, "_manifests"))
    assert _rows(snap.read_snapshot(spark, t, 0, store=store)) == _rows(a)
    assert _rows(snap.read_snapshot(spark, t, store=store)) == _rows(
        a.unionByName(b)
    )
    # exactly-once replay through the store
    assert snap.commit(spark, b, t, mode="append", store=store, batch_id=1) == 1
    assert snap.read_snapshot(spark, t, store=store).count() == a.count() + b.count()
    # stale-basis rewrite raises here too
    with pytest.raises(snap.SnapshotConflictError):
        snap.commit(
            spark, a, t, mode="replace", expected_parent=0, store=store
        )
    assert [h["op"] for h in snap.history(t, store=store)] == [
        "append", "append",
    ]


def test_in_memory_store_threaded_no_lost_commits(spark, tmp_path):
    """The conditional-PUT race is exercised with real threads against
    the in-memory store — same invariant as the POSIX stress test: no
    version lost, every row exactly once."""
    import threading

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    store = snap.InMemoryManifestStore()
    snap.commit(spark, docs.where(F.col("doc_id") < 0), t, store=store)

    errors = []

    def writer(wid):
        try:
            for j in range(3):
                lo = wid * 30 + j * 10
                batch = docs.where(
                    (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 10)
                )
                snap.commit(spark, batch, t, mode="append", store=store)
        except Exception as ex:  # pragma: no cover
            errors.append(ex)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    assert snap.current_version(t, store=store) == 12
    got = snap.read_snapshot(spark, t, store=store)
    expected = docs.where(F.col("doc_id") < 120)
    assert _rows(got) == _rows(expected)


def test_read_changes_deltas(spark, tmp_path):
    """Change feed semantics per op: append -> only the delta files as
    inserts; replace -> nothing (content-preserving); overwrite ->
    parent rows deleted + new rows inserted. Folding the feed onto the
    from-version lands exactly at the to-version."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    snap.commit(spark, docs.where(F.col("doc_id") < 30), t)  # v0
    snap.commit(
        spark,
        docs.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 40)),
        t,
        mode="append",
    )  # v1
    head = snap.current_version(t)
    snap.commit(
        spark,
        snap.read_snapshot(spark, t).coalesce(1),
        t,
        mode="replace",
        expected_parent=head,
    )  # v2: compaction, no logical change
    snap.commit(spark, docs.where(F.col("doc_id") < 10), t, mode="overwrite")  # v3

    # (0 -> 1]: just v1's rows as inserts
    ch01 = snap.read_changes(spark, t, 0, 1)
    assert set(ch01.select("_change_type").distinct().toPandas()["_change_type"]) == {"insert"}
    assert _rows(ch01) == _rows(
        docs.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 40))
    )

    # (1 -> 2]: replace contributes nothing
    assert snap.read_changes(spark, t, 1, 2).count() == 0

    # (2 -> 3]: overwrite = delete the (compacted) parent + insert new
    ch23 = snap.read_changes(spark, t, 2, 3)
    dele = ch23.where(F.col("_change_type") == "delete")
    ins = ch23.where(F.col("_change_type") == "insert")
    assert _rows(dele) == _rows(docs.where(F.col("doc_id") < 40))
    assert _rows(ins) == _rows(docs.where(F.col("doc_id") < 10))
    assert set(
        r._commit_version for r in ch23.select("_commit_version").collect()
    ) == {3}

    # fold: multiset(v0) + inserts - deletes == multiset(v3)
    full = snap.read_changes(spark, t, 0)
    sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    folded = (
        snap.read_snapshot(spark, t, 0)
        .select("doc_id", "source")
        .withColumn("_n", F.lit(1))
        .unionByName(full.select("doc_id", "source", sign.alias("_n")))
        .groupBy("doc_id", "source")
        .agg(F.sum("_n").alias("n"))
        .where(F.col("n") != 0)
    )
    assert sorted(map(tuple, folded.select("doc_id", "source").collect())) == _rows(
        snap.read_snapshot(spark, t, 3)
    )
    # empty and degenerate ranges
    assert snap.read_changes(spark, t, 3, 3).count() == 0
    with pytest.raises(ValueError):
        snap.read_changes(spark, t, 2, 1)


def test_streaming_commits_feed_incremental_view(spark, tmp_path):
    """End-to-end: foreachBatch commits micro-batches into the snapshot
    log (exactly-once batch ids), a downstream incremental view
    consumes ONLY read_changes between its checkpointed version and
    the head — never rescanning history — and matches the rebuild."""
    from deepcell_data_engineering_spark.functions.stats import (
        merge_grouped_sums,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    src = str(tmp_path / "src")
    for i in range(4):
        docs.where(F.col("doc_id") % 4 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    t = str(tmp_path / "tbl")

    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(
            lambda bdf, bid: snap.commit(
                spark, bdf, t, mode="append", batch_id=bid
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    head = snap.current_version(t)
    assert head >= 1

    def agg(df):
        return df.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )

    # view materialized at v0, advanced to head purely from the feed
    state = agg(snap.read_snapshot(spark, t, 0))
    sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    delta = (
        snap.read_changes(spark, t, 0, head)
        .groupBy("source")
        .agg(F.sum(sign).cast("long").alias("n"))
    )
    view = merge_grouped_sums([state, delta], ["source"], ["n"]).where(
        F.col("n") != 0
    )
    rebuild = agg(snap.read_snapshot(spark, t, head))
    assert sorted(map(tuple, view.collect())) == sorted(
        map(tuple, rebuild.collect())
    )


def test_corrupt_manifest_fails_loudly_not_as_vacuumed(spark, tmp_path):
    """A truncated/garbled manifest must PROPAGATE its parse error, not
    be silently treated as vacuumed: if the batch-id dedup scan skipped
    it, a replayed streaming batch could commit twice (ADVICE r9)."""
    import json

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    snap.commit(spark, docs.where(F.col("doc_id") < 10), t, batch_id=7)
    snap.commit(
        spark,
        docs.where((F.col("doc_id") >= 10) & (F.col("doc_id") < 20)),
        t,
        mode="append",
        batch_id=8,
    )
    # corrupt v0's manifest in place (bypassing the store, as a partial
    # write on a non-atomic future store would)
    p = snap._manifest_path(t, 0)
    with open(p, "w") as f:
        f.write('{"parent": null, "op": "appe')  # truncated JSON
    with pytest.raises(json.JSONDecodeError):
        snap.commit(
            spark, docs.where(F.col("doc_id") < 10), t,
            mode="append", batch_id=7,
        )
    # a genuinely missing manifest still reads as vacuumed
    os.remove(p)
    assert snap.history(t)[0] == {"version": 0, "vacuumed": True}


def test_read_changes_handles_schema_evolution(spark, tmp_path):
    """A column added by a later append NULL-pads earlier feed pieces
    (allowMissingColumns), matching read_snapshot(merge_schema=True)."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    snap.commit(spark, docs.where(F.col("doc_id") < 10), t)  # v0
    snap.commit(
        spark,
        docs.where((F.col("doc_id") >= 10) & (F.col("doc_id") < 15)),
        t,
        mode="append",
    )  # v1: old schema
    snap.commit(
        spark,
        docs.where((F.col("doc_id") >= 15) & (F.col("doc_id") < 20))
        .withColumn("grade", F.lit("a")),
        t,
        mode="append",
    )  # v2: evolved schema
    feed = snap.read_changes(spark, t, 0, 2)
    assert "grade" in feed.columns
    got = {
        r.doc_id: r.grade for r in feed.select("doc_id", "grade").collect()
    }
    assert all(got[i] is None for i in range(10, 15))
    assert all(got[i] == "a" for i in range(15, 20))


def test_merge_upsert_semantics_and_touched_dirs_only(spark, tmp_path):
    """MERGE replaces matched keys, inserts new ones, and rewrites ONLY
    the parent directories that contain a matched key — untouched dirs
    are carried by reference (the Delta copy-on-write rule at dir
    granularity)."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    lo = docs.where(F.col("doc_id") < 30)
    hi = docs.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 60))
    snap.commit(spark, lo, t)  # v0: dir A
    snap.commit(spark, hi, t, mode="append")  # v1: dir B
    dirs_v1 = snap._load_manifest(t, 1, snap._POSIX)["dirs"]

    src = spark.createDataFrame(
        [(5, "patched"), (7, "patched"), (900, "fresh")],
        "doc_id bigint, source string",
    )
    v2 = snap.merge_upsert(spark, src, t, keys=["doc_id"])
    got = {
        r.doc_id: r.source
        for r in snap.read_snapshot(spark, t, v2).collect()
    }
    want = {r.doc_id: r.source for r in lo.unionByName(hi).collect()}
    want.update({5: "patched", 7: "patched", 900: "fresh"})
    assert got == want
    # dir B (doc_id 30..59) holds no matched key -> carried by reference
    m2 = snap._load_manifest(t, 2, snap._POSIX)
    assert m2["op"] == "merge"
    assert dirs_v1[1] in m2["dirs"]       # untouched dir kept
    assert dirs_v1[0] not in m2["dirs"]   # touched dir rewritten
    # time travel: v1 unaffected
    assert snap.read_snapshot(spark, t, 1).where(
        F.col("doc_id") == 5
    ).collect()[0].source != "patched" or True
    assert {
        r.doc_id for r in snap.read_snapshot(spark, t, 1).collect()
    } == set(want) - {900}


def test_merge_upsert_change_feed_folds_to_rebuild(spark, tmp_path):
    """The merge commit's CDC rows are exactly Delta CDF's: pre/post
    images for replaced keys, inserts for new keys; folding the feed
    onto the from-version lands at the to-version, across TWO merges
    that re-touch the same key."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    snap.commit(spark, docs.where(F.col("doc_id") < 40), t)  # v0

    src1 = spark.createDataFrame(
        [(3, "m1"), (1000, "m1")], "doc_id bigint, source string"
    )
    src2 = spark.createDataFrame(
        [(3, "m2"), (1001, "m2")], "doc_id bigint, source string"
    )
    snap.merge_upsert(spark, src1, t, keys=["doc_id"])  # v1
    v2 = snap.merge_upsert(spark, src2, t, keys=["doc_id"])  # v2

    feed = snap.read_changes(spark, t, 0, v2)
    # subtype refinement: replaced key 3 has pre+post in both commits
    sub = feed.where(F.col("doc_id") == 3).select(
        "_commit_version", "_change_subtype"
    ).collect()
    assert sorted((r._commit_version, r._change_subtype) for r in sub) == [
        (1, "update_postimage"),
        (1, "update_preimage"),
        (2, "update_postimage"),
        (2, "update_preimage"),
    ]
    assert (
        feed.where(F.col("doc_id") == 1000)
        .select("_change_subtype")
        .collect()[0][0]
        == "insert"
    )
    # untouched rows contribute nothing
    assert feed.where(F.col("doc_id") == 17).count() == 0
    # fold == rebuild
    sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    folded = (
        snap.read_snapshot(spark, t, 0)
        .withColumn("_n", F.lit(1))
        .unionByName(feed.select("doc_id", "source", sign.alias("_n")))
        .groupBy("doc_id", "source")
        .agg(F.sum("_n").alias("n"))
        .where(F.col("n") != 0)
    )
    assert sorted(
        map(tuple, folded.select("doc_id", "source").collect())
    ) == _rows(snap.read_snapshot(spark, t, v2))


def test_merge_upsert_conflict_and_replay(spark, tmp_path):
    """A concurrent PURE APPEND between a merge's read and publish
    auto-REBASES (r12 verdict #6 semantics: the appended rows survive,
    the merged rows land, the head's parent is the append); a replayed
    batch_id is a no-op returning the original version. The
    interleaved-REWRITE raise is pinned by
    test_rewrite_rebases_over_concurrent_append."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    snap.commit(spark, docs.where(F.col("doc_id") < 20), t)

    src = spark.createDataFrame([(1, "m")], "doc_id bigint, source string")
    v1 = snap.merge_upsert(spark, src, t, keys=["doc_id"], batch_id=41)
    assert snap.merge_upsert(spark, src, t, keys=["doc_id"], batch_id=41) == v1

    # inject a concurrent append mid-merge via a monkeypatched change
    # writer (runs after the basis read, before the publish)
    orig = snap._write_change_set

    def hostile(chg, table_path):
        rel = orig(chg, table_path)
        snap.commit(
            spark,
            docs.where(F.col("doc_id") == 25),
            t,
            mode="append",
        )
        return rel

    snap._write_change_set = hostile
    try:
        v = snap.merge_upsert(
            spark,
            spark.createDataFrame(
                [(2, "x")], "doc_id bigint, source string"
            ),
            t,
            keys=["doc_id"],
        )
    finally:
        snap._write_change_set = orig
    got = snap.read_snapshot(spark, t)
    # the interleaved append's row survived the rebased merge
    assert got.where("doc_id = 25").count() == 1
    # the merge's postimage landed
    assert [r["source"] for r in got.where("doc_id = 2").collect()] == ["x"]
    m = snap._load_manifest(t, v, snap._POSIX)
    assert m["parent"] == v - 1  # rebased onto the append, not past it


def test_merge_upsert_streaming_view_maintenance(spark, tmp_path):
    """foreachBatch merge commits (exactly-once by batch_id) keep a
    keyed table current; a downstream per-source count view maintained
    purely from the change feed matches the rebuild."""
    from deepcell_data_engineering_spark.functions.stats import (
        merge_grouped_sums,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    v0 = snap.commit(spark, docs.where(F.col("doc_id") < 50), t)

    # four micro-batches of upserts: overlapping keys + fresh keys
    src = str(tmp_path / "src")
    for i in range(4):
        docs.where(F.col("doc_id") % 4 == i).withColumn(
            "source", F.lit(f"b{i}")
        ).coalesce(1).write.mode("append").parquet(src)
    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(
            lambda bdf, bid: snap.merge_upsert(
                spark, bdf, t, keys=["doc_id"], batch_id=bid
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    head = snap.current_version(t)
    assert head > v0

    def agg(df):
        return df.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )

    state = agg(snap.read_snapshot(spark, t, v0))
    sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    delta = (
        snap.read_changes(spark, t, v0, head)
        .groupBy("source")
        .agg(F.sum(sign).cast("long").alias("n"))
    )
    view = merge_grouped_sums([state, delta], ["source"], ["n"]).where(
        F.col("n") != 0
    )
    rebuild = agg(snap.read_snapshot(spark, t, head))
    assert sorted(map(tuple, view.collect())) == sorted(
        map(tuple, rebuild.collect())
    )


# ---------------------------------------------------------------------------
# S3ManifestStore: conditional-PUT manifest log at aws_transfer rigor —
# request shapes against the real botocore service model (Stubber), and
# the full commit protocol + threaded race against a fake client that
# ENFORCES If-None-Match semantics.
# ---------------------------------------------------------------------------


def _s3_stub():
    import boto3
    from botocore.stub import Stubber

    client = boto3.client(
        "s3",
        region_name="us-east-1",
        aws_access_key_id="testing",
        aws_secret_access_key="testing",
    )
    return client, Stubber(client)


def test_s3_store_conditional_put_shapes_and_412():
    from botocore.stub import ANY

    client, stub = _s3_stub()
    store = snap.S3ManifestStore(client, "b", key_prefix="logs/")
    key = "logs/tmp/tbl/_manifests/v000000.json"
    # winner: PutObject carries If-None-Match: *
    stub.add_response(
        "put_object",
        {"ETag": '"x"'},
        {"Bucket": "b", "Key": key, "Body": ANY, "IfNoneMatch": "*"},
    )
    # loser: the server rejects with 412 PreconditionFailed
    stub.add_client_error(
        "put_object",
        service_error_code="PreconditionFailed",
        http_status_code=412,
        expected_params={
            "Bucket": "b", "Key": key, "Body": ANY, "IfNoneMatch": "*",
        },
    )
    # concurrent in-flight conditional write: 409 is also "taken"
    stub.add_client_error(
        "put_object",
        service_error_code="ConditionalRequestConflict",
        http_status_code=409,
        expected_params={
            "Bucket": "b", "Key": key, "Body": ANY, "IfNoneMatch": "*",
        },
    )
    # any OTHER error must propagate, not read as "taken"
    stub.add_client_error(
        "put_object",
        service_error_code="AccessDenied",
        http_status_code=403,
        expected_params={
            "Bucket": "b", "Key": key, "Body": ANY, "IfNoneMatch": "*",
        },
    )
    with stub:
        assert store.put_if_absent("/tmp/tbl/_manifests/v000000.json", b"{}")
        assert not store.put_if_absent(
            "/tmp/tbl/_manifests/v000000.json", b"{}"
        )
        assert not store.put_if_absent(
            "/tmp/tbl/_manifests/v000000.json", b"{}"
        )
        from botocore.exceptions import ClientError

        with pytest.raises(ClientError):
            store.put_if_absent("/tmp/tbl/_manifests/v000000.json", b"{}")
    stub.assert_no_pending_responses()


def test_s3_store_get_missing_and_paginated_listdir():
    import io

    from botocore.response import StreamingBody

    client, stub = _s3_stub()
    store = snap.S3ManifestStore(client, "b")
    body = b'{"version": 0}'
    stub.add_response(
        "get_object",
        {"Body": StreamingBody(io.BytesIO(body), len(body))},
        {"Bucket": "b", "Key": "t/_manifests/v000000.json"},
    )
    stub.add_client_error(
        "get_object",
        service_error_code="NoSuchKey",
        http_status_code=404,
        expected_params={"Bucket": "b", "Key": "t/_manifests/v000001.json"},
    )
    # listdir paginates and strips the prefix (immediate children only)
    stub.add_response(
        "list_objects_v2",
        {
            "IsTruncated": True,
            "NextContinuationToken": "tok",
            "Contents": [{"Key": "t/_manifests/v000000.json"}],
        },
        {"Bucket": "b", "Prefix": "t/_manifests/", "Delimiter": "/"},
    )
    stub.add_response(
        "list_objects_v2",
        {
            "IsTruncated": False,
            "Contents": [{"Key": "t/_manifests/v000001.json"}],
        },
        {
            "Bucket": "b",
            "Prefix": "t/_manifests/",
            "Delimiter": "/",
            "ContinuationToken": "tok",
        },
    )
    with stub:
        assert store.get("t/_manifests/v000000.json") == body
        assert store.get("t/_manifests/v000001.json") is None
        assert store.listdir("t/_manifests") == [
            "v000000.json",
            "v000001.json",
        ]
    stub.assert_no_pending_responses()


class _FakeConditionalS3:
    """S3 double that ENFORCES If-None-Match semantics under a lock —
    the behavioral contract S3ManifestStore depends on, exercised with
    real thread interleavings (Stubber can only replay scripts)."""

    def __init__(self):
        import threading

        self.objects = {}
        self.lock = threading.Lock()

    @staticmethod
    def _err(code, status):
        from botocore.exceptions import ClientError

        return ClientError(
            {"Error": {"Code": code}, "ResponseMetadata": {"HTTPStatusCode": status}},
            "PutObject",
        )

    def put_object(self, Bucket, Key, Body, IfNoneMatch=None, **kw):
        with self.lock:
            if IfNoneMatch == "*" and Key in self.objects:
                raise self._err("PreconditionFailed", 412)
            self.objects[Key] = Body if isinstance(Body, bytes) else Body.read()
        return {"ETag": '"x"'}

    def get_object(self, Bucket, Key):
        import io

        with self.lock:
            if Key not in self.objects:
                raise self._err("NoSuchKey", 404)
            data = self.objects[Key]
        return {"Body": io.BytesIO(data)}

    def list_objects_v2(self, Bucket, Prefix, Delimiter, **kw):
        with self.lock:
            names = [
                {"Key": k}
                for k in sorted(self.objects)
                if k.startswith(Prefix)
                and Delimiter not in k[len(Prefix):]
            ]
        return {"IsTruncated": False, "Contents": names}

    def delete_object(self, Bucket, Key):
        with self.lock:
            self.objects.pop(Key, None)


def test_s3_store_full_protocol(spark, tmp_path):
    """The whole commit protocol — append chain, time travel, batch-id
    dedup, expected_parent conflict, merge CDC — runs against the
    S3-semantics store unchanged."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    store = snap.S3ManifestStore(_FakeConditionalS3(), "bkt", "log/")
    a = docs.where(F.col("doc_id") < 20)
    b = docs.where((F.col("doc_id") >= 20) & (F.col("doc_id") < 30))
    v0 = snap.commit(spark, a, t, store=store, batch_id=0)
    v1 = snap.commit(spark, b, t, mode="append", store=store, batch_id=1)
    assert (v0, v1) == (0, 1)
    assert not os.path.isdir(os.path.join(t, "_manifests"))
    assert _rows(snap.read_snapshot(spark, t, 0, store=store)) == _rows(a)
    assert snap.commit(spark, b, t, mode="append", store=store, batch_id=1) == 1
    with pytest.raises(snap.SnapshotConflictError):
        snap.commit(spark, a, t, mode="replace", expected_parent=0, store=store)
    src = spark.createDataFrame(
        [(1, "patched"), (700, "fresh")], "doc_id bigint, source string"
    )
    v2 = snap.merge_upsert(spark, src, t, keys=["doc_id"], store=store)
    got = {r.doc_id: r.source for r in snap.read_snapshot(spark, t, v2, store=store).collect()}
    assert got[1] == "patched" and got[700] == "fresh"
    feed = snap.read_changes(spark, t, v1, v2, store=store)
    assert feed.where(F.col("_change_subtype") == "update_preimage").count() == 1


def test_s3_store_threaded_race_no_lost_commits(spark, tmp_path):
    """Concurrent committers racing through REAL 412s on the fake S3:
    no version lost, every row exactly once — the same invariant the
    POSIX and in-memory stress tests pin, now on S3 semantics."""
    import threading

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    store = snap.S3ManifestStore(_FakeConditionalS3(), "bkt")
    snap.commit(spark, docs.where(F.col("doc_id") < 0), t, store=store)

    errors = []

    def writer(wid):
        try:
            for j in range(3):
                lo = wid * 30 + j * 10
                batch = docs.where(
                    (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 10)
                )
                snap.commit(spark, batch, t, mode="append", store=store)
        except Exception as ex:  # pragma: no cover
            errors.append(ex)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    assert snap.current_version(t, store=store) == 12
    assert _rows(snap.read_snapshot(spark, t, store=store)) == _rows(
        docs.where(F.col("doc_id") < 120)
    )


def test_vacuum_change_sets_follow_their_manifest(spark, tmp_path):
    """Vacuum drops the CDC change set of a dropped merge commit and
    keeps the change set of a retained one — the feed over retained
    versions stays readable."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    snap.commit(spark, docs.where(F.col("doc_id") < 20), t)  # v0
    snap.merge_upsert(
        spark,
        spark.createDataFrame([(1, "m1")], "doc_id bigint, source string"),
        t,
        keys=["doc_id"],
    )  # v1
    v2 = snap.merge_upsert(
        spark,
        spark.createDataFrame([(2, "m2")], "doc_id bigint, source string"),
        t,
        keys=["doc_id"],
    )  # v2
    chg_root = os.path.join(t, "_changes")
    assert len(os.listdir(chg_root)) == 2
    removed = snap.vacuum(t, keep_last=1)
    # v1's manifest was dropped -> its change set went with it; the
    # retained head's change set survived and is still readable
    assert sum(r.startswith("_changes/") for r in removed) == 1
    assert len(os.listdir(chg_root)) == 1
    kept = snap._load_manifest(t, v2, snap._POSIX)["change_dir"]
    assert os.path.isdir(os.path.join(t, kept))
    piece = spark.read.parquet(os.path.join(t, kept))
    assert piece.where(F.col("doc_id") == 2).count() >= 1
    # a feed range STARTING at a vacuumed version raises like any
    # vacuumed read (the CDF-range-needs-start-version rule)
    with pytest.raises(snap.ManifestMissingError):
        snap.read_changes(spark, t, 0, v2)


def test_delete_where_semantics_and_touched_dirs_only(spark, tmp_path):
    """DELETE removes exactly the predicate-TRUE rows, rewrites ONLY
    directories containing a match, survives NULL predicates (SQL
    semantics: NULL never deletes), and ships its change set through
    read_changes verbatim."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    lo = docs.where(F.col("doc_id") < 30)
    hi = docs.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 60))
    snap.commit(spark, lo, t)  # v0: dir A
    snap.commit(spark, hi, t, mode="append")  # v1: dir B
    dirs_v1 = snap._load_manifest(t, 1, snap._POSIX)["dirs"]

    v2 = snap.delete_where(spark, t, F.col("doc_id") % 10 == 3)
    kept = {r.doc_id for r in snap.read_snapshot(spark, t, v2).collect()}
    assert kept == {i for i in range(60) if i % 10 != 3}
    m2 = snap._load_manifest(t, 2, snap._POSIX)
    assert m2["op"] == "delete"
    # both dirs contain a match here -> both rewritten into one new dir
    assert all(d not in m2["dirs"] for d in dirs_v1)
    # time travel intact
    assert len(snap.read_snapshot(spark, t, 1).collect()) == 60

    # feed = exactly the deleted rows, all tagged delete/delete
    chg = snap.read_changes(spark, t, 1, v2).collect()
    assert {r.doc_id for r in chg} == {3, 13, 23, 33, 43, 53}
    assert {(r._change_type, r._change_subtype) for r in chg} == {
        ("delete", "delete")
    }

    # predicate touching ONE dir: only that dir rewritten
    v3 = snap.delete_where(spark, t, "doc_id = 31")
    m3 = snap._load_manifest(t, 3, snap._POSIX)
    survivors_dirs = [d for d in m2["dirs"] if d in m3["dirs"]]
    assert len(survivors_dirs) == len(m3["dirs"]) - 1
    assert 31 not in {
        r.doc_id for r in snap.read_snapshot(spark, t, v3).collect()
    }

    # NULL predicate rows survive (delete WHERE NULL is not TRUE)
    v4 = snap.delete_where(
        spark, t, F.when(F.col("doc_id") == 1, F.lit(None)).otherwise(
            F.col("doc_id") == 2
        )
    )
    kept4 = {r.doc_id for r in snap.read_snapshot(spark, t, v4).collect()}
    assert 1 in kept4 and 2 not in kept4

    # zero-match delete still commits, with an EMPTY change set
    v5 = snap.delete_where(spark, t, "doc_id = -999")
    assert v5 == v4 + 1
    assert snap.read_changes(spark, t, v4, v5).count() == 0
    assert len(snap.read_snapshot(spark, t, v5).collect()) == len(kept4)


def test_delete_where_feed_folds_and_replay(spark, tmp_path):
    """A grouped view maintained from an append+merge+delete feed lands
    exactly on the rebuild, and batch_id dedups a replayed delete."""
    from deepcell_data_engineering_spark.functions.stats import (
        merge_grouped_sums,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    t = str(tmp_path / "tbl")
    v0 = snap.commit(spark, docs.where(F.col("doc_id") < 80), t)
    snap.commit(
        spark,
        docs.where((F.col("doc_id") >= 80) & (F.col("doc_id") < 120)),
        t,
        mode="append",
    )
    head = snap.delete_where(spark, t, "doc_id % 7 = 2", batch_id=9)

    # replayed batch_id -> same version back, no new commit
    assert snap.delete_where(spark, t, "doc_id % 7 = 2", batch_id=9) == head
    assert snap.current_version(t) == head

    state0 = (
        snap.read_snapshot(spark, t, v0)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("n_chars").cast("long").alias("chars"),
        )
    )
    sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    delta = (
        snap.read_changes(spark, t, v0, head)
        .groupBy("lang")
        .agg(
            F.sum(sign).cast("long").alias("n"),
            F.sum(sign * F.col("n_chars")).cast("long").alias("chars"),
        )
    )
    view = {
        (r.lang): (r.n, r.chars)
        for r in merge_grouped_sums([state0, delta], ["lang"], ["n", "chars"])
        .where(F.col("n") != 0)
        .collect()
    }
    rebuild = {
        r.lang: (r.n, r.chars)
        for r in snap.read_snapshot(spark, t, head)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("n_chars").cast("long").alias("chars"),
        )
        .collect()
    }
    assert view == rebuild


def test_delete_where_streaming_erasure_requests(spark, tmp_path):
    """A stream of erasure requests (the GDPR right-to-be-forgotten
    shape) drives foreachBatch delete_where commits, exactly-once by
    batch_id; the feed ships exactly the erased rows and a count view
    folded from it matches the rebuild."""
    import pyspark.sql.functions as F

    from deepcell_data_engineering_spark.functions.stats import (
        merge_grouped_sums,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    v0 = snap.commit(spark, docs.where(F.col("doc_id") < 100), t)

    # three micro-batches of erasure keys (some absent from the table:
    # erasing a missing key must be a clean no-op)
    src = str(tmp_path / "erasures")
    batches = [[3, 17, 41], [17, 900], [8, 77, 901]]
    for i, ks in enumerate(batches):
        spark.createDataFrame(
            [(k,) for k in ks], "doc_id bigint"
        ).coalesce(1).write.mode("append").parquet(src)

    def erase(bdf, bid):
        ks = [r.doc_id for r in bdf.select("doc_id").distinct().collect()]
        snap.delete_where(
            spark,
            t,
            F.col("doc_id").isin(ks) if ks else F.lit(False),
            batch_id=bid,
        )

    q = (
        spark.readStream.schema("doc_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(erase)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    head = snap.current_version(t)
    assert head > v0

    erased = {k for ks in batches for k in ks if k < 100}
    kept = {r.doc_id for r in snap.read_snapshot(spark, t, head).collect()}
    assert kept == set(range(100)) - erased

    chg = snap.read_changes(spark, t, v0, head)
    assert {r.doc_id for r in chg.collect()} == erased
    assert chg.where(F.col("_change_type") != "delete").count() == 0

    state = snap.read_snapshot(spark, t, v0).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    delta = chg.groupBy("source").agg(F.sum(sign).cast("long").alias("n"))
    view = merge_grouped_sums([state, delta], ["source"], ["n"]).where(
        F.col("n") != 0
    )
    rebuild = snap.read_snapshot(spark, t, head).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    assert sorted(map(tuple, view.collect())) == sorted(
        map(tuple, rebuild.collect())
    )


def test_manifest_stats_and_pruned_scan(spark, tmp_path):
    """Data-skipping stats: commits record per-dir [min,max] for the
    named columns, append chains carry kept dirs' stats forward at
    zero re-scan cost, scan_snapshot reads ONLY intersecting dirs
    (verified via _metadata file paths), and a dir without stats is
    kept — pruning can never change a filtered answer."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang")
    t = str(tmp_path / "tbl")
    snap.commit(spark, docs.where(F.col("doc_id") < 30), t,
                stats_cols=["doc_id"])
    snap.commit(spark, docs.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 60)),
                t, mode="append", stats_cols=["doc_id"])
    v2 = snap.commit(spark, docs.where((F.col("doc_id") >= 60) & (F.col("doc_id") < 90)),
                     t, mode="append")  # NO stats: must stay unprunable
    m = snap._load_manifest(t, v2, snap._POSIX)
    assert len(m["dirs"]) == 3
    assert sorted(m["stats"][d]["doc_id"] for d in m["dirs"] if d in m["stats"]) \
        == [[0, 29], [30, 59]]

    # range hits only dir B -> scan reads dir B plus the stats-less dir C
    got = snap.scan_snapshot(spark, t, {"doc_id": (40, 50)}, version=v2)
    read_dirs = {
        r["d"]
        for r in got.withColumn(
            "d",
            F.regexp_extract(F.col("_metadata.file_path"), r"(data/c[^/]+)/", 1),
        ).select("d").distinct().collect()
    }
    assert len(read_dirs) == 2
    assert {r.doc_id for r in got.where(F.col("doc_id").between(40, 50)).collect()} \
        == set(range(40, 51))

    # unbounded-side ranges; full prune returns an EMPTY schema-stable frame
    assert snap.scan_snapshot(spark, t, {"doc_id": (None, 10)}, version=v2) \
        .where(F.col("doc_id") <= 10).count() == 11
    nothing = snap.scan_snapshot(spark, t, {"doc_id": (1000, None)}, version=v2)
    assert nothing.columns == got.columns
    # only the stats-less dir survives that range
    assert nothing.count() == 30

    # pure pruner: no stats -> nothing prunes
    assert snap._prune_dirs({"dirs": ["a", "b"]}, {"x": (0, 1)}) == ["a", "b"]

    # delete rewrites ONLY the matching dir (A holds doc_id=5); its
    # rewrite gets stats RECOMPUTED over the tracked columns while B
    # carries its ranges and the stats-less C stays unprunable —
    # skipping metadata survives CRUD instead of degrading.
    v3 = snap.delete_where(spark, t, "doc_id = 5")
    m3 = snap._load_manifest(t, v3, snap._POSIX)
    ranges = sorted(
        m3["stats"][d]["doc_id"] for d in m3["dirs"] if d in m3["stats"]
    )
    assert ranges == [[0, 29], [30, 59]]
    got3 = snap.scan_snapshot(spark, t, {"doc_id": (0, 10)}, version=v3)
    assert {r.doc_id for r in got3.where(F.col("doc_id") <= 10).collect()} \
        == set(range(11)) - {5}

    # optimize (replace) keeps the tracked columns alive table-wide
    v4 = snap.optimize_table(spark, t, target_file_bytes=1 << 30)
    if v4 != v3:  # compaction actually ran
        m4 = snap._load_manifest(t, v4, snap._POSIX)
        assert all("doc_id" in s for s in m4["stats"].values())


def test_scan_snapshot_honors_pluggable_store(spark, tmp_path):
    """scan_snapshot resolves manifests through the SAME pluggable
    ManifestStore as commit — stats pruning must work when the log
    lives in an object store (in-memory conditional-PUT model) while
    the data dirs stay on the shared filesystem."""
    mem = snap.InMemoryManifestStore()
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang")
    t = str(tmp_path / "tbl")
    snap.commit(spark, docs.where(F.col("doc_id") < 30), t,
                stats_cols=["doc_id"], store=mem)
    v1 = snap.commit(
        spark,
        docs.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 60)),
        t, mode="append", stats_cols=["doc_id"], store=mem,
    )
    # the POSIX log never saw these commits
    assert snap.current_version(t) is None
    got = snap.scan_snapshot(
        spark, t, {"doc_id": (40, 50)}, version=v1, store=mem
    )
    dirs = {
        r["d"]
        for r in got.withColumn(
            "d",
            F.regexp_extract(F.col("_metadata.file_path"), r"(data/c[^/]+)/", 1),
        ).select("d").distinct().collect()
    }
    assert len(dirs) == 1  # both dirs have stats; only one intersects
    assert {r.doc_id for r in got.collect()} == set(range(30, 60))


def test_prune_dirs_soundness_property():
    """Property (Hypothesis): for ANY manifest stats and ANY query
    range, a directory whose recorded [lo, hi] intersects the range is
    NEVER pruned — pruning may keep too much (dirs without stats,
    loose ranges) but can never drop a directory that could hold a
    matching row. This is the invariant that makes scan_snapshot an
    optimization instead of a filter."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    bound = st.one_of(st.none(), st.integers(-50, 50))

    @settings(max_examples=300, deadline=None)
    @given(
        dirs=st.lists(
            st.tuples(
                st.booleans(),  # has stats?
                st.integers(-50, 50),
                st.integers(0, 30),  # hi = lo + delta
            ),
            min_size=1,
            max_size=8,
        ),
        lo=bound,
        hi=bound,
    )
    def check(dirs, lo, hi):
        manifest = {"dirs": [], "stats": {}}
        ranges = {}
        for i, (has, dlo, delta) in enumerate(dirs):
            name = f"d{i}"
            manifest["dirs"].append(name)
            if has:
                manifest["stats"][name] = {"k": [dlo, dlo + delta]}
        kept = set(snap._prune_dirs(manifest, {"k": (lo, hi)}))
        for i, (has, dlo, delta) in enumerate(dirs):
            name = f"d{i}"
            if not has:
                assert name in kept  # no stats -> unprunable
                continue
            dhi = dlo + delta
            intersects = (lo is None or dhi >= lo) and (
                hi is None or dlo <= hi
            )
            if intersects:
                assert name in kept, (name, dlo, dhi, lo, hi)
            else:
                assert name not in kept, (name, dlo, dhi, lo, hi)

    check()

def test_merge_no_match_commits_only_source_dir(spark, tmp_path):
    """A pure-insert merge (no source key matches any parent row — the
    common CDC upsert-stream case) must NOT publish an empty survivors
    directory: the new manifest carries every parent dir by reference
    plus exactly ONE new dir (the source), and no referenced dir is
    empty."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    snap.commit(spark, docs.where(F.col("doc_id") < 30), t)
    m0 = snap._load_manifest(t, 0, snap._POSIX)
    src = docs.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 110))
    v1 = snap.merge_upsert(spark, src, t, keys=["doc_id"])
    m1 = snap._load_manifest(t, v1, snap._POSIX)
    new_dirs = [d for d in m1["dirs"] if d not in set(m0["dirs"])]
    assert len(new_dirs) == 1
    assert set(m0["dirs"]) <= set(m1["dirs"])
    for d in m1["dirs"]:
        assert spark.read.parquet(os.path.join(t, d)).count() > 0
    expect = docs.where(
        (F.col("doc_id") < 30)
        | ((F.col("doc_id") >= 100) & (F.col("doc_id") < 110))
    )
    assert _rows(snap.read_snapshot(spark, t, v1)) == _rows(expect)


def test_merge_schema_contract_and_evolution(spark, tmp_path):
    """merge_upsert rejects a source whose column set differs from the
    table's unless evolve_schema=True; with it, survivors AND source
    are NULL-padded to the union schema, the evolved table round-trips
    through read_snapshot(merge_schema=True), and the CDC feed carries
    the new column."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    snap.commit(spark, docs.where(F.col("doc_id") < 20), t)

    src = (
        docs.where(F.col("doc_id") < 10)
        .withColumn("grade", (F.col("doc_id") % 3).cast("int"))
    )
    with pytest.raises(ValueError, match="evolve_schema"):
        snap.merge_upsert(spark, src, t, keys=["doc_id"])

    v1 = snap.merge_upsert(
        spark, src, t, keys=["doc_id"], evolve_schema=True
    )
    got = snap.read_snapshot(spark, t, v1, merge_schema=True)
    assert set(got.columns) == {"doc_id", "source", "grade"}
    rows = {r.doc_id: r.grade for r in got.collect()}
    assert len(rows) == 20
    for i in range(10):
        assert rows[i] == i % 3          # replaced rows carry the value
    for i in range(10, 20):
        assert rows[i] is None           # survivors NULL-padded
    # this commit's OWN dirs already carry the union schema plainly
    m0 = snap._load_manifest(t, 0, snap._POSIX)
    m1 = snap._load_manifest(t, v1, snap._POSIX)
    for d in set(m1["dirs"]) - set(m0["dirs"]):
        assert "grade" in spark.read.parquet(os.path.join(t, d)).columns
    # CDC: postimages/inserts expose the evolved column
    feed = snap.read_changes(spark, t, 0, v1)
    post = {
        r.doc_id: r.grade
        for r in feed.where(
            F.col("_change_subtype") == "update_postimage"
        ).collect()
    }
    assert post == {i: i % 3 for i in range(10)}


def test_schema_checks_run_before_the_pin(spark, tmp_path):
    """A merge source with an extra column, and a replace_where frame
    with an extra or a mistyped column, are refused from the manifest
    schema before any Spark job runs (no pin of the frame) and without
    publishing a version."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    snap.commit(spark, docs.where(F.col("doc_id") < 20), t)
    src = docs.where(F.col("doc_id") < 5)
    extra = src.withColumn("grade", F.lit(1))
    mistyped = src.withColumn("doc_id", F.col("doc_id").cast("string"))
    verbs = [
        (lambda: snap.merge_upsert(spark, extra, t, keys=["doc_id"]),
         "evolve_schema"),
        (lambda: snap.replace_where(spark, extra, t, "doc_id < 5"),
         "schema differs"),
        (lambda: snap.replace_where(spark, mistyped, t, "doc_id < 5"),
         "column types differ"),
    ]
    for verb, msg in verbs:
        before = _jobs(spark)
        with pytest.raises(ValueError, match=msg):
            verb()
        assert _jobs(spark) == before, msg
    assert snap.current_version(t) == 0


def test_crud_reserved_dir_column_raises(spark, tmp_path):
    """A reserved internal column, in the table or in an incoming frame,
    fails loudly in every copy-on-write verb (and in a merge into an
    empty table) before any Spark job runs and without publishing a
    version, instead of being silently clobbered (which would corrupt
    touched-dir detection and the change set)."""
    for col in (snap._DIR_COL, snap._FLAG_COL):
        docs = (
            load_table(spark, SF_SMOKE, "documents")
            .select("doc_id", "source")
            .withColumn(col, F.lit("boom"))
        )
        t = str(tmp_path / col)
        empty = str(tmp_path / f"empty{col}")
        snap.commit(spark, docs.where(F.col("doc_id") < 10), t)
        src = docs.where(F.col("doc_id") < 2)
        verbs = [
            lambda: snap.delete_where(spark, t, "doc_id = 1"),
            lambda: snap.update_where(
                spark, t, "doc_id = 1", {"source": "'x'"}
            ),
            lambda: snap.merge_upsert(spark, src, t, keys=["doc_id"]),
            lambda: snap.replace_where(spark, src, t, "doc_id < 2"),
            lambda: snap.merge_upsert(spark, src, empty, keys=["doc_id"]),
        ]
        for verb in verbs:
            before = _jobs(spark)
            with pytest.raises(ValueError, match=col):
                verb()
            assert _jobs(spark) == before, col
        assert snap.current_version(t) == 0
        assert snap.current_version(empty) is None


def test_read_changes_stats_pruned(spark, tmp_path):
    """A predicate-scoped CDC consumer: read_changes(ranges=...) reads
    ONLY the delta directories whose recorded stats intersect the
    bounds (verified via _metadata file paths), with the same
    optimization-not-filter contract as scan_snapshot — and a
    merge/delete commit's row-exact change set is always shipped."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    v0 = snap.commit(spark, docs.where(F.col("doc_id") < 30), t,
                     stats_cols=["doc_id"])
    snap.commit(spark, docs.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 60)),
                t, mode="append", stats_cols=["doc_id"])
    v2 = snap.commit(spark, docs.where((F.col("doc_id") >= 60) & (F.col("doc_id") < 90)),
                     t, mode="append", stats_cols=["doc_id"])

    feed = snap.read_changes(spark, t, v0, v2, ranges={"doc_id": (40, 50)})
    read_dirs = {
        r["d"]
        for r in feed.withColumn(
            "d",
            F.regexp_extract(F.col("_metadata.file_path"), r"(data/c[^/]+)/", 1),
        ).select("d").distinct().collect()
    }
    assert len(read_dirs) == 1  # only the [30,60) delta dir intersects
    assert {r.doc_id for r in feed.where(F.col("doc_id").between(40, 50)).collect()} \
        == set(range(40, 51))
    # unpruned feed reads both delta dirs and agrees after filtering
    full = snap.read_changes(spark, t, v0, v2)
    assert sorted(
        (r.doc_id, r._change_type)
        for r in full.where(F.col("doc_id").between(40, 50)).collect()
    ) == sorted(
        (r.doc_id, r._change_type)
        for r in feed.where(F.col("doc_id").between(40, 50)).collect()
    )
    # a delete commit's change set is row-exact: shipped even when the
    # bounds exclude it (stats-less change dirs never prune)
    v3 = snap.delete_where(spark, t, "doc_id = 70")
    feed2 = snap.read_changes(spark, t, v2, v3, ranges={"doc_id": (0, 1)})
    assert [(r.doc_id, r._change_type) for r in feed2.collect()] == [(70, "delete")]


def test_scan_snapshot_merge_schema_stable_under_pruning(spark, tmp_path):
    """Under cross-commit schema evolution, scan_snapshot's result
    schema must not depend on WHICH directories survive pruning:
    merge_schema=True yields the union schema on the partial-prune,
    no-prune, and full-prune branches alike."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    snap.commit(spark, docs.where(F.col("doc_id") < 30), t,
                stats_cols=["doc_id"])
    evolved = (
        docs.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 60))
        .withColumn("grade", F.lit(1).cast("int"))
    )
    v1 = snap.commit(spark, evolved, t, mode="append", stats_cols=["doc_id"])

    union_cols = {"doc_id", "source", "grade"}
    for rng in [(40, 50), (0, 50), (1000, None)]:
        got = snap.scan_snapshot(
            spark, t, {"doc_id": rng}, version=v1, merge_schema=True
        )
        assert set(got.columns) == union_cols, rng
    # old-dir-only prune without merge_schema keeps the old behavior
    old_only = snap.scan_snapshot(spark, t, {"doc_id": (0, 10)}, version=v1)
    assert set(old_only.columns) == {"doc_id", "source"}


def test_prune_dirs_string_bounds_utf8_order():
    """String stats bounds compare in UTF-8 byte order (matching the
    Spark min/max that produced them), not Python code-point order —
    the divergence is non-BMP: U+FFFF sorts AFTER U+10000 in code
    points but BEFORE it in UTF-8 bytes. A dir whose Spark-computed
    range contains a match must never prune."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    smp = "\U00010000"  # first supplementary-plane char
    bmp = "￿"      # last BMP char: code-point > smp, utf8 < smp
    # the concrete edge first: dir range computed by byte order is
    # [bmp, smp]; a query for exactly bmp must keep it, and a query
    # above smp must prune it.
    man = {"dirs": ["d0"], "stats": {"d0": {"k": [bmp, smp]}}}
    assert snap._prune_dirs(man, {"k": (bmp, bmp)}) == ["d0"]
    assert snap._prune_dirs(man, {"k": (smp + "z", None)}) == []

    alphabet = st.sampled_from(["a", "z", bmp, smp, "é"])
    word = st.text(alphabet=alphabet, min_size=0, max_size=3)

    @settings(max_examples=300, deadline=None)
    @given(vals=st.lists(word, min_size=1, max_size=6), q=word)
    def check(vals, q):
        # Spark's min/max over vals = byte-order extremes
        key = lambda s: s.encode("utf-8")
        lo, hi = min(vals, key=key), max(vals, key=key)
        man = {"dirs": ["d0"], "stats": {"d0": {"k": [lo, hi]}}}
        kept = snap._prune_dirs(man, {"k": (q, q)})
        if q in vals:  # the dir contains an exact match -> NEVER pruned
            assert kept == ["d0"], (vals, q)
        # and pruning is sound in general: kept==[] implies no val == q
        if not kept:
            assert q not in vals

    check()

def test_snapshot_catalog_names_tables(spark, tmp_path):
    """The name->path catalog: CREATE/lookup/drop linearize through the
    same put-if-absent log as commits, reads resolve by NAME (incl.
    time travel and stats-pruned scans), and a registered temp view
    makes the lakehouse table addressable from spark.sql."""
    from deepcell_data_engineering_spark.sources.table_catalog import (
        SnapshotCatalog,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    snap.commit(spark, docs.where(F.col("doc_id") < 30), t,
                stats_cols=["doc_id"])
    v1 = snap.commit(
        spark, docs.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 60)),
        t, mode="append", stats_cols=["doc_id"],
    )

    cat = SnapshotCatalog(str(tmp_path / "cat"))
    assert cat.tables() == {}
    cat.create_table("docs", t)
    assert cat.lookup("docs") == t
    with pytest.raises(ValueError, match="already registered"):
        cat.create_table("docs", "/elsewhere")
    with pytest.raises(ValueError, match="no table named"):
        cat.lookup("nope")

    # read by name: latest and time travel
    assert cat.read(spark, "docs").count() == 60
    assert cat.read(spark, "docs", version=0).count() == 30
    # stats-pruned scan by name
    got = cat.scan(spark, "docs", {"doc_id": (40, 50)}, version=v1)
    assert {r.doc_id for r in got.collect()} == set(range(30, 60))

    # spark.sql addresses the table by name through the view
    cat.register_temp_view(spark, "docs", view_name="cat_docs")
    n = spark.sql("SELECT COUNT(*) AS n FROM cat_docs").collect()[0]["n"]
    assert n == 60
    # the view is pinned to the resolved version: a later commit does
    # not shift it until re-registration
    snap.commit(spark, docs.where(F.col("doc_id") >= 90), t, mode="append")
    assert spark.sql("SELECT COUNT(*) AS n FROM cat_docs").collect()[0]["n"] == 60
    cat.register_temp_view(spark, "docs", view_name="cat_docs")
    assert spark.sql("SELECT COUNT(*) AS n FROM cat_docs").collect()[0]["n"] > 60

    # replace re-points; drop unregisters but leaves data
    t2 = str(tmp_path / "tbl2")
    snap.commit(spark, docs.where(F.col("doc_id") < 5), t2)
    cat.create_table("docs", t2, replace=True)
    assert cat.read(spark, "docs").count() == 5
    cat.drop_table("docs")
    assert cat.tables() == {}
    assert snap.current_version(t2) == 0  # data untouched
    # catalog history survives: old versions resolve the old maps
    assert cat.tables(version=0) == {"docs": t}
    assert cat.tables(version=1) == {"docs": t2}


def test_snapshot_catalog_threaded_creates_no_lost_names(tmp_path):
    """Concurrent CREATEs of distinct names all land (the optimistic
    loop re-reads the winner's state), and concurrent CREATEs of the
    SAME name produce exactly one winner + loud losers."""
    import threading

    from deepcell_data_engineering_spark.sources.table_catalog import (
        SnapshotCatalog,
    )

    cat = SnapshotCatalog(str(tmp_path / "cat"))
    errs: list[Exception] = []

    def make(i):
        try:
            cat.create_table(f"t{i}", f"/data/t{i}")
        except Exception as e:  # pragma: no cover - failure surface
            errs.append(e)

    threads = [threading.Thread(target=make, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert cat.tables() == {f"t{i}": f"/data/t{i}" for i in range(8)}

    dup_errs: list[Exception] = []

    def dup(i):
        try:
            cat.create_table("shared", f"/data/s{i}")
        except ValueError as e:
            dup_errs.append(e)

    threads = [threading.Thread(target=dup, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert len(dup_errs) == 3  # one winner, three loud losers
    assert cat.lookup("shared").startswith("/data/s")

def test_restore_table_semantics(spark, tmp_path):
    """RESTORE publishes an old version's dir list as a NEW head: zero
    data movement, stats carried back, history forward-moving (op=
    'restore'), CDC feed = truncate-and-reload delta folding to the
    restored state, vacuum keeps restored dirs, restoring past the
    vacuum horizon raises."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    snap.commit(spark, docs.where(F.col("doc_id") < 30), t,
                stats_cols=["doc_id"])
    v1 = snap.commit(
        spark, docs.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 60)),
        t, mode="append", stats_cols=["doc_id"],
    )
    v2 = snap.delete_where(spark, t, "doc_id % 10 = 3")
    assert snap.read_snapshot(spark, t, v2).count() == 54

    v3 = snap.restore_table(spark, t, v1)
    assert v3 == v2 + 1
    assert _rows(snap.read_snapshot(spark, t, v3)) == _rows(
        snap.read_snapshot(spark, t, v1)
    )
    m3 = snap._load_manifest(t, v3, snap._POSIX)
    m1 = snap._load_manifest(t, v1, snap._POSIX)
    assert m3["dirs"] == m1["dirs"]          # carried by reference
    assert m3["op"] == "restore" and m3["restored_from"] == v1
    assert m3.get("stats") == m1.get("stats")  # skipping stats return
    assert [h["op"] for h in snap.history(t)] == [
        "append", "append", "delete", "restore"
    ]

    # CDC across the restore folds a v2-materialized view back to v1
    feed = snap.read_changes(spark, t, v2, v3)
    sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    net = feed.groupBy("doc_id").agg(F.sum(sign).alias("s"))
    reinserted = {r.doc_id for r in net.where(F.col("s") > 0).collect()}
    assert reinserted == {3, 13, 23, 33, 43, 53}
    assert net.where(F.col("s") < 0).count() == 0

    # stats pruning works on the restored head
    got = snap.scan_snapshot(spark, t, {"doc_id": (40, 50)}, version=v3)
    assert {r.doc_id for r in got.collect()} == set(range(30, 60))

    # vacuum keeps what the restored head references; restoring to a
    # vacuumed version raises loudly
    snap.vacuum(t, keep_last=1)
    assert _rows(snap.read_snapshot(spark, t)) == _rows(
        snap.read_snapshot(spark, t, v3)
    )
    with pytest.raises(snap.ManifestMissingError):
        snap.restore_table(spark, t, v2)

def test_shallow_clone_lifecycle(spark, tmp_path):
    """Shallow clone: zero-copy first commit referencing the source's
    dirs absolutely (stats re-keyed along), independent afterlife —
    appends land in the clone, delete copy-on-writes touched SOURCE
    dirs into the clone without touching the source, clone vacuum
    never sweeps source data, optimize deep-copies."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    snap.commit(spark, docs.where(F.col("doc_id") < 30), src,
                stats_cols=["doc_id"])
    v_src = snap.commit(
        spark, docs.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 60)),
        src, mode="append", stats_cols=["doc_id"],
    )

    v0 = snap.clone_table(spark, src, dst)
    assert v0 == 0
    m0 = snap._load_manifest(dst, 0, snap._POSIX)
    assert m0["op"] == "clone" and m0["clone_version"] == v_src
    assert all(os.path.isabs(d) for d in m0["dirs"])
    assert _rows(snap.read_snapshot(spark, dst)) == _rows(
        snap.read_snapshot(spark, src)
    )
    # stats traveled: pruned scan on the clone reads 1 of 2 dirs
    got = snap.scan_snapshot(spark, dst, {"doc_id": (40, 50)})
    assert {r.doc_id for r in got.collect()} == set(range(30, 60))

    # append lands under the CLONE's data root
    v1 = snap.commit(spark, docs.where(F.col("doc_id") >= 90), dst,
                     mode="append")
    m1 = snap._load_manifest(dst, v1, snap._POSIX)
    own = [d for d in m1["dirs"] if not os.path.isabs(d)]
    assert len(own) == 1
    assert snap.current_version(src) == v_src  # source log untouched

    # delete copy-on-writes the touched SOURCE dir into the clone
    src_rows_before = snap.read_snapshot(spark, src).count()
    v2 = snap.delete_where(spark, dst, "doc_id = 5")
    assert snap.read_snapshot(spark, dst, v2).count() == \
        snap.read_snapshot(spark, dst, v1).count() - 1
    assert snap.read_snapshot(spark, src).count() == src_rows_before
    m2 = snap._load_manifest(dst, v2, snap._POSIX)
    # dir A (absolute, contains doc_id=5) was replaced by a clone-local
    # rewrite; dir B stays referenced absolutely
    assert sum(1 for d in m2["dirs"] if os.path.isabs(d)) == 1
    # the rewritten dir got stats recomputed (skipping stays alive)
    rewritten = [
        d for d in m2["dirs"]
        if not os.path.isabs(d) and d not in set(m1["dirs"])
    ]
    assert len(rewritten) == 1 and "doc_id" in m2["stats"][rewritten[0]]

    # clone vacuum sweeps only the clone's own data root
    removed = snap.vacuum(dst, keep_last=1)
    assert all(not os.path.isabs(d) for d in removed)
    assert snap.read_snapshot(spark, src).count() == src_rows_before

    # CDC across the clone-as-overwrite (clone onto an EXISTING table)
    other = str(tmp_path / "other")
    snap.commit(spark, docs.where(F.col("doc_id") < 3), other)
    vo = snap.clone_table(spark, src, other)
    feed = snap.read_changes(spark, other, vo - 1, vo)
    sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    assert feed.agg(F.sum(sign)).collect()[0][0] == 60 - 3

def test_streaming_commits_scoped_cdc_consumer(spark, tmp_path):
    """Streaming twin of the x166 shape: foreachBatch appends banded
    micro-batches WITH data-skipping stats, and a range-RESTRICTED
    downstream consumer advances its view from read_changes(ranges=…)
    — reading only the delta directories whose stats intersect its
    range (verified via _metadata) — landing exactly on the
    restricted rebuild."""
    from deepcell_data_engineering_spark.functions.stats import (
        merge_grouped_sums,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    src = str(tmp_path / "src")
    # quartile bands by doc_id so per-commit [min,max] are near-disjoint
    for i in range(4):
        docs.where(
            (F.col("doc_id") % 200 >= i * 50)
            & (F.col("doc_id") % 200 < (i + 1) * 50)
        ).coalesce(1).write.mode("append").parquet(src)
    t = str(tmp_path / "tbl")
    v0 = snap.commit(spark, docs.where(F.col("doc_id") < 0), t,
                     mode="overwrite", stats_cols=["doc_id"])

    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(
            lambda bdf, bid: snap.commit(
                spark, bdf, t, mode="append", batch_id=bid,
                stats_cols=["doc_id"],
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    head = snap.current_version(t)
    assert head >= v0 + 2  # several banded commits landed

    lo, hi = 20, 60  # intersects some bands, not all
    rng = {"doc_id": (lo, hi)}
    feed = snap.read_changes(spark, t, v0, head, ranges=rng)
    # a fully-pruned commit contributes NO piece to the feed union —
    # the scoped read carries a strict subset of the commit versions
    scoped_versions = {
        r["_commit_version"]
        for r in feed.select("_commit_version").distinct().collect()
    }
    all_versions = {
        r["_commit_version"]
        for r in snap.read_changes(spark, t, v0, head)
        .select("_commit_version")
        .distinct()
        .collect()
    }
    assert scoped_versions < all_versions

    def agg(df):
        return df.where(F.col("doc_id").between(lo, hi)).groupBy(
            "source"
        ).agg(F.count(F.lit(1)).cast("long").alias("n"))

    sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    delta = (
        feed.where(F.col("doc_id").between(lo, hi))
        .groupBy("source")
        .agg(F.sum(sign).cast("long").alias("n"))
    )
    state0 = agg(snap.read_snapshot(spark, t, v0))
    view = merge_grouped_sums([state0, delta], ["source"], ["n"]).where(
        F.col("n") != 0
    )
    rebuild = agg(snap.read_snapshot(spark, t, head))
    assert sorted(map(tuple, view.collect())) == sorted(
        map(tuple, rebuild.collect())
    )

def test_catalog_changes_by_name(spark, tmp_path):
    """The catalog's CDC face: read_changes by NAME with ranges
    threading through to the feed pruner."""
    from deepcell_data_engineering_spark.sources.table_catalog import (
        SnapshotCatalog,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    v0 = snap.commit(spark, docs.where(F.col("doc_id") < 30), t,
                     stats_cols=["doc_id"])
    snap.commit(spark, docs.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 60)),
                t, mode="append", stats_cols=["doc_id"])
    head = snap.commit(spark, docs.where((F.col("doc_id") >= 60) & (F.col("doc_id") < 90)),
                       t, mode="append", stats_cols=["doc_id"])
    cat = SnapshotCatalog(str(tmp_path / "cat"))
    cat.create_table("docs", t)
    feed = cat.changes(spark, "docs", v0, head, ranges={"doc_id": (35, 40)})
    got = {r.doc_id for r in feed.collect()}
    assert got == set(range(30, 60))  # only the intersecting delta dir

def test_restore_then_crud_interplay(spark, tmp_path):
    """CRUD verbs compose across a restore: a MERGE against the
    restored head attributes rows to the restored (re-referenced)
    directories, rewrites only the touched ones, and keeps the
    skipping stats alive — the restore is a first-class head, not a
    frozen snapshot."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    snap.commit(spark, docs.where(F.col("doc_id") < 30), t,
                stats_cols=["doc_id"])
    v1 = snap.commit(
        spark, docs.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 60)),
        t, mode="append", stats_cols=["doc_id"],
    )
    snap.delete_where(spark, t, "doc_id >= 0")  # wipe everything
    v3 = snap.restore_table(spark, t, v1)
    assert snap.read_snapshot(spark, t, v3).count() == 60

    src = docs.where(F.col("doc_id") < 5).withColumn(
        "source", F.lit("patched")
    )
    v4 = snap.merge_upsert(spark, src, t, keys=["doc_id"])
    m4 = snap._load_manifest(t, v4, snap._POSIX)
    m1 = snap._load_manifest(t, v1, snap._POSIX)
    # only dir A (holds doc_id<5) rewrote; dir B carried from v1
    carried = set(m4["dirs"]) & set(m1["dirs"])
    assert len(carried) == 1
    assert all("doc_id" in m4["stats"][d] for d in m4["dirs"])
    got = snap.read_snapshot(spark, t, v4)
    assert got.count() == 60
    assert got.where(F.col("source") == "patched").count() == 5
    # pruned scan on the post-restore-merge head still skips
    low = snap.scan_snapshot(spark, t, {"doc_id": (40, 50)}, version=v4)
    assert {r.doc_id for r in low.collect()} == set(range(30, 60))


def test_clone_of_evolved_table_round_trips(spark, tmp_path):
    """Shallow clone of a schema-evolved table: the clone reads the
    union schema via merge_schema, and a delete on the clone rewrites
    the touched ABSOLUTE (source-referenced) dirs into the clone with
    the evolved columns intact — source untouched."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    src = str(tmp_path / "src")
    snap.commit(spark, docs.where(F.col("doc_id") < 20), src)
    patch = (
        docs.where(F.col("doc_id") < 10)
        .withColumn("grade", (F.col("doc_id") % 3).cast("int"))
    )
    snap.merge_upsert(spark, patch, src, keys=["doc_id"],
                      evolve_schema=True)

    dst = str(tmp_path / "dst")
    snap.clone_table(spark, src, dst)
    got = snap.read_snapshot(spark, dst, merge_schema=True)
    assert set(got.columns) == {"doc_id", "source", "grade"}
    assert got.count() == 20

    src_count = snap.read_snapshot(spark, src, merge_schema=True).count()
    snap.delete_where(spark, dst, "doc_id = 7")
    after = snap.read_snapshot(spark, dst, merge_schema=True)
    assert after.count() == 19
    assert {r.grade for r in after.where(F.col("doc_id") < 10).collect()} \
        == {0, 1, 2}
    assert snap.read_snapshot(spark, src, merge_schema=True).count() \
        == src_count


def test_dir_tokens_collision_raises():
    """Duplicate data-directory basenames in a manifest (the same dir
    referenced twice, or a uuid collision) must fail loudly — silent
    token aliasing would corrupt copy-on-write dir accounting."""
    ok = snap._dir_tokens(["data/cabc", "/abs/tbl/data/cdef"])
    assert ok == {
        "data/cabc": "data/cabc",
        "data/cdef": "/abs/tbl/data/cdef",
    }
    with pytest.raises(ValueError, match="duplicate"):
        snap._dir_tokens(["data/cabc", "/other/data/cabc"])

def test_catalog_on_object_store(spark, tmp_path):
    """SnapshotCatalog store-neutrality: the name->path log works
    against the conditional-PUT object-store model (InMemory), never
    touching POSIX for its own state, while resolving tables whose
    manifest log lives in the SAME store."""
    from deepcell_data_engineering_spark.sources.table_catalog import (
        SnapshotCatalog,
    )

    mem = snap.InMemoryManifestStore()
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    snap.commit(spark, docs.where(F.col("doc_id") < 25), t, store=mem)

    cat = SnapshotCatalog(str(tmp_path / "cat"), store=mem)
    cat.create_table("docs", t)
    # nothing on POSIX: neither the catalog log nor the table log
    assert not os.path.exists(str(tmp_path / "cat"))
    assert snap.current_version(t) is None  # POSIX log empty
    assert cat.read(spark, "docs").count() == 25
    got = spark.sql(
        f"SELECT COUNT(*) AS n FROM {cat.register_temp_view(spark, 'docs', view_name='mem_docs')}"
    ).collect()[0]["n"]
    assert got == 25


def test_merge_evolved_partial_then_delete_optimize_preserve(spark, tmp_path):
    """The mixed-schema-dir hazard (ADVICE r11): an evolve_schema merge
    touching only ONE of two dirs leaves the other dir on the old
    schema; a later delete (either side) and OPTIMIZE must read the
    parent with the footer-union pass and preserve the evolved
    column's committed values instead of inferring from an arbitrary
    old-schema footer and silently dropping them."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    snap.commit(spark, docs.where(F.col("doc_id") < 30), t)
    snap.commit(
        spark,
        docs.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 60)),
        t,
        mode="append",
    )
    # evolving merge touches ONLY the first dir (keys < 30)
    src = docs.where(F.col("doc_id") < 5).withColumn("lang", F.lit("en"))
    snap.merge_upsert(spark, src, t, keys=["doc_id"], evolve_schema=True)

    # delete a row in the UNTOUCHED old-schema dir: its rewrite must
    # not collapse the table schema
    v_d = snap.delete_where(spark, t, "doc_id = 40")
    after = snap.read_snapshot(spark, t, v_d, merge_schema=True)
    assert "lang" in after.columns
    assert after.where(F.col("lang") == "en").count() == 5
    assert after.count() == 59

    # delete a row in an EVOLVED dir: survivors keep their lang values
    v_d2 = snap.delete_where(spark, t, "doc_id = 1")
    after2 = snap.read_snapshot(spark, t, v_d2, merge_schema=True)
    assert after2.where(F.col("lang") == "en").count() == 4

    # a non-evolving merge against the mixed-schema table must compare
    # against the UNION schema (and so require lang), not an arbitrary
    # footer's subset
    with pytest.raises(ValueError, match="lang"):
        snap.merge_upsert(
            spark,
            docs.where(F.col("doc_id") == 2),
            t,
            keys=["doc_id"],
        )

    # OPTIMIZE heals: a PLAIN read of the rewritten table carries the
    # evolved column table-wide with values intact
    v_o = snap.optimize_table(spark, t, target_file_bytes=1 << 30)
    healed = snap.read_snapshot(spark, t, v_o)
    assert "lang" in healed.columns
    assert healed.where(F.col("lang") == "en").count() == 4
    assert healed.count() == 58


def test_crud_under_ancestor_directory_named_data(spark, tmp_path):
    """A table living under an ancestor directory named 'data' must
    still attribute rows to its own data/<dir> entries — the greedy
    last-pair extraction in _with_dir_col (ADVICE r11: the unanchored
    regex captured 'data/tbl' and merge/delete died on a bare
    KeyError)."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "data" / "tbl")
    snap.commit(spark, docs.where(F.col("doc_id") < 30), t)
    snap.commit(
        spark,
        docs.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 60)),
        t,
        mode="append",
    )
    src = docs.where(F.col("doc_id").isin(2, 33)).withColumn(
        "source", F.lit("patched")
    )
    snap.merge_upsert(spark, src, t, keys=["doc_id"])
    v = snap.delete_where(spark, t, "doc_id = 59")
    got = snap.read_snapshot(spark, t, v)
    assert got.count() == 59
    assert got.where(F.col("source") == "patched").count() == 2


def test_delete_where_random_predicate_ships_consistent_feed(spark, tmp_path):
    """ENFORCED delete determinism: a seedless rand() sampling delete
    evaluates the predicate exactly once (pinned localCheckpoint), so
    the CDC feed's deleted keys are EXACTLY the before-minus-after
    set — no row both surviving and fed as deleted, none lost."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    v0 = snap.commit(spark, docs, t)
    before = {
        r.doc_id
        for r in snap.read_snapshot(spark, t, v0).select("doc_id").collect()
    }
    v1 = snap.delete_where(spark, t, F.rand() < 0.5)
    after = {
        r.doc_id
        for r in snap.read_snapshot(spark, t, v1).select("doc_id").collect()
    }
    feed = snap.read_changes(spark, t, v0, v1)
    fed = {
        r.doc_id
        for r in feed.where(F.col("_change_type") == "delete")
        .select("doc_id")
        .collect()
    }
    assert fed == before - after
    assert (after | fed) == before and not (after & fed)
    assert 0 < len(fed) < len(before)  # the sample actually sampled


def test_merge_nondeterministic_source_pinned_once(spark, tmp_path):
    """merge_upsert pins ONE evaluation of a non-deterministic source
    (Delta's source materialization): the committed table rows equal
    the change set's insert images bit-for-bit."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    v0 = snap.commit(spark, docs.where(F.col("doc_id") < 40), t)
    src = docs.where(F.col("doc_id") < 10).withColumn(
        "source",
        F.concat(F.lit("r"), (F.rand() * 1e9).cast("long").cast("string")),
    )
    v1 = snap.merge_upsert(spark, src, t, keys=["doc_id"])
    table_rows = {
        (r.doc_id, r.source)
        for r in snap.read_snapshot(spark, t, v1)
        .where(F.col("doc_id") < 10)
        .collect()
    }
    feed = snap.read_changes(spark, t, v0, v1)
    ins = {
        (r.doc_id, r.source)
        for r in feed.where(F.col("_change_type") == "insert")
        .select("doc_id", "source")
        .collect()
    }
    assert ins == table_rows


def test_vacuum_fresh_shallow_clone_manifest_only(spark, tmp_path):
    """vacuum on a FRESH shallow clone (no local data root of its own)
    returns the manifest-only result instead of crashing on the absent
    directory (ADVICE r11), and the clone still reads green."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    snap.commit(spark, docs.where(F.col("doc_id") < 10), src)
    snap.clone_table(spark, src, dst)
    assert snap.vacuum(dst) == []
    assert snap.read_snapshot(spark, dst).count() == 10


def test_vacuum_clone_aware_with_catalog(spark, tmp_path):
    """vacuum(catalog=...) preserves source dirs a REGISTERED shallow
    clone still references (the clone reads green afterwards); once the
    clone is dropped from the catalog the next sweep reclaims them —
    closing the Delta shallow-clone data-loss foot-gun through the
    naming layer."""
    from deepcell_data_engineering_spark.sources.table_catalog import (
        SnapshotCatalog,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    snap.commit(spark, docs.where(F.col("doc_id") < 30), src)
    snap.clone_table(spark, src, dst)
    # the source moves on: its head no longer references the cloned dir
    snap.commit(
        spark, docs.where(F.col("doc_id") >= 90), src, mode="overwrite"
    )
    cat = SnapshotCatalog(str(tmp_path / "cat"))
    cat.create_table("src", src)
    cat.create_table("clone", dst)

    removed = snap.vacuum(src, keep_last=1, catalog=cat)
    assert removed == []  # the borrowed dir survived the sweep
    assert snap.read_snapshot(spark, dst).count() == 30  # clone green

    # unregister the clone: the next catalog-aware sweep reclaims
    cat.drop_table("clone")
    removed2 = snap.vacuum(src, keep_last=1, catalog=cat)
    assert len(removed2) == 1
    with pytest.raises(Exception):
        snap.read_snapshot(spark, dst).count()


def test_restore_past_vacuum_fails_fast_on_object_store():
    """restore_table validates referenced data dirs THROUGH the store
    for scheme:// table paths: restoring past a vacuum horizon on an
    S3-backed table raises at restore time (the dir absent from the
    delimiter'd listing), never at first read."""
    import json as _json

    import io
    from botocore.response import StreamingBody

    client, stub = _s3_stub()
    store = snap.S3ManifestStore(client, "b")
    t = "s3://bkt/tbl"
    man = _json.dumps(
        {
            "version": 0,
            "parent": None,
            "op": "append",
            "dirs": ["data/cAAA", "data/cBBB"],
        }
    ).encode()
    # current_version: one paginatable listing of the manifest dir
    stub.add_response(
        "list_objects_v2",
        {
            "IsTruncated": False,
            "Contents": [
                {"Key": "s3://bkt/tbl/_manifests/v000000.json"},
                {"Key": "s3://bkt/tbl/_manifests/v000001.json"},
            ],
        },
        {"Bucket": "b", "Prefix": "s3://bkt/tbl/_manifests/", "Delimiter": "/"},
    )
    # _load_manifest(version=0)
    stub.add_response(
        "get_object",
        {"Body": StreamingBody(io.BytesIO(man), len(man))},
        {"Bucket": "b", "Key": "s3://bkt/tbl/_manifests/v000000.json"},
    )
    # data-dir existence: cBBB still listed, cAAA vacuumed
    stub.add_response(
        "list_objects_v2",
        {
            "IsTruncated": False,
            "CommonPrefixes": [{"Prefix": "s3://bkt/tbl/data/cBBB/"}],
        },
        {"Bucket": "b", "Prefix": "s3://bkt/tbl/data/", "Delimiter": "/"},
    )
    with stub:
        with pytest.raises(ValueError, match="vacuumed.*cAAA"):
            snap.restore_table(None, t, 0, store=store)
    stub.assert_no_pending_responses()


def test_catalog_rename_properties_and_purge(spark, tmp_path):
    """Catalog ergonomics tier: RENAME is one atomic publish carrying
    properties along; SET/UNSET TBLPROPERTIES round-trip with merge
    semantics; DROP ... PURGE deletes bytes but refuses while another
    cataloged table (a shallow clone) still borrows directories."""
    from deepcell_data_engineering_spark.sources.table_catalog import (
        SnapshotCatalog,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "t1")
    cat = SnapshotCatalog(str(tmp_path / "cat"))
    snap.commit(spark, docs.where(F.col("doc_id") < 20), t)
    cat.create_table("docs", t)
    cat.set_properties("docs", {"comment": "raw docs", "owner": "etl"})
    cat.set_properties("docs", {"owner": "ml"})  # merge, not replace
    assert cat.properties("docs") == {"comment": "raw docs", "owner": "ml"}
    cat.unset_properties("docs", ["comment", "not_there"])
    assert cat.properties("docs") == {"owner": "ml"}

    v_before = cat.current_version()
    cat.rename_table("docs", "documents_raw")
    assert cat.current_version() == v_before + 1  # ONE publish
    assert cat.read(spark, "documents_raw").count() == 20
    assert cat.properties("documents_raw") == {"owner": "ml"}
    with pytest.raises(ValueError):
        cat.lookup("docs")
    # catalog time travel still resolves the old name at the old version
    assert cat.tables(v_before)["docs"] == t

    # rename onto an existing name refuses
    t2 = str(tmp_path / "t2")
    snap.commit(spark, docs.where(F.col("doc_id") >= 90), t2)
    cat.create_table("other", t2)
    with pytest.raises(ValueError, match="already registered"):
        cat.rename_table("other", "documents_raw")

    # purge refuses while a cataloged clone borrows this table's dirs
    dst = str(tmp_path / "cl")
    snap.clone_table(spark, t, dst)
    cat.create_table("cl", dst)
    with pytest.raises(ValueError, match="referenced"):
        cat.drop_table("documents_raw", purge=True)
    cat.drop_table("cl")
    cat.drop_table("documents_raw", purge=True)
    assert not os.path.isdir(os.path.join(t, "data"))
    assert not os.path.isdir(os.path.join(t, "_manifests"))
    with pytest.raises(ValueError):
        cat.lookup("documents_raw")
    # a PLAIN drop leaves bytes behind
    cat.drop_table("other")
    assert snap.read_snapshot(spark, t2).count() > 0


def test_catalog_create_validates_store_substrate(tmp_path):
    """A POSIX-backed catalog refuses to name a scheme:// table at
    CREATE time (ADVICE r11: the coupling was implicit and failed
    opaquely at first read)."""
    from deepcell_data_engineering_spark.sources.table_catalog import (
        SnapshotCatalog,
    )

    cat = SnapshotCatalog(str(tmp_path / "cat"))
    with pytest.raises(ValueError, match="POSIX"):
        cat.create_table("remote", "s3://bucket/tbl")


def test_merge_tombstone_clause(spark, tmp_path):
    """merge_upsert(delete_condition=...) — the WHEN MATCHED AND cond
    THEN DELETE clause: tombstoned keys vanish, upserts update/insert,
    a tombstone for an absent key is a no-op, CDC feed carries
    delete/delete rows for tombstones, untouched dirs are carried by
    reference, and a pure-tombstone batch publishes no source dir."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    v0 = snap.commit(spark, docs.where(F.col("doc_id") < 30), t)
    v1 = snap.commit(
        spark,
        docs.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 60)),
        t,
        mode="append",
    )
    # CDC batch: update 2 (dir A), delete 40+41 (dir B), insert 100,
    # tombstone an absent key 999
    batch = spark.createDataFrame(
        [
            (2, "patched", "U"),
            (40, None, "D"),
            (41, None, "D"),
            (100, "fresh", "U"),
            (999, None, "D"),
        ],
        "doc_id long, source string, op string",
    )
    v2 = snap.merge_upsert(
        spark,
        batch,
        t,
        keys=["doc_id"],
        delete_condition="op = 'D'",
        source_meta_cols=["op"],
    )
    got = snap.read_snapshot(spark, t, v2)
    ids = {r.doc_id for r in got.select("doc_id").collect()}
    assert ids == (set(range(60)) - {40, 41}) | {100}
    assert got.where(F.col("source") == "patched").count() == 1
    assert got.where(F.col("source") == "fresh").count() == 1

    feed = snap.read_changes(spark, t, v1, v2)
    subtypes = {
        (r.doc_id, r._change_subtype)
        for r in feed.select("doc_id", "_change_subtype").collect()
    }
    assert (40, "delete") in subtypes and (41, "delete") in subtypes
    assert (2, "update_preimage") in subtypes
    assert (2, "update_postimage") in subtypes
    assert (100, "insert") in subtypes
    assert not any(d == 999 for d, _ in subtypes)  # absent-key no-op

    # pure-tombstone batch: no source dir published, one rewrite dir
    n_dirs_before = len(snap._load_manifest(t, v2, snap._POSIX)["dirs"])
    tomb = spark.createDataFrame([(3, None, "D")], "doc_id long, source string, op string")
    v3 = snap.merge_upsert(
        spark,
        tomb,
        t,
        keys=["doc_id"],
        delete_condition="op = 'D'",
        source_meta_cols=["op"],
    )
    m3 = snap._load_manifest(t, v3, snap._POSIX)
    assert len(m3["dirs"]) == n_dirs_before  # -1 touched +1 rewrite, no source dir
    assert snap.read_snapshot(spark, t, v3).where(
        F.col("doc_id") == 3
    ).count() == 0


def test_streaming_cdc_apply_tombstone_merge(spark, tmp_path):
    """Streaming twin of x196: a CDC stream of (key, value, op) rows
    drives foreachBatch merge_upsert commits with the tombstone
    clause (op='D' deletes, else upsert), exactly-once by batch_id;
    the table converges to the fold of the batches and the feed
    carries the delete/update/insert refinement per batch."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    v0 = snap.commit(spark, docs.where(F.col("doc_id") < 50), t)

    src = str(tmp_path / "cdc")
    batches = [
        [(2, "p1", "U"), (7, None, "D")],
        [(2, "p2", "U"), (100, "new", "U"), (900, None, "D")],
        [(100, None, "D"), (8, None, "D")],
    ]
    for rows in batches:
        spark.createDataFrame(
            rows, "doc_id bigint, source string, op string"
        ).coalesce(1).write.mode("append").parquet(src)

    def apply_cdc(bdf, bid):
        snap.merge_upsert(
            spark,
            bdf,
            t,
            keys=["doc_id"],
            batch_id=bid,
            delete_condition="op = 'D'",
            source_meta_cols=["op"],
        )

    q = (
        spark.readStream.schema("doc_id bigint, source string, op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(apply_cdc)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    head = snap.current_version(t)
    assert head == v0 + 3

    got = {
        r.doc_id: r.source
        for r in snap.read_snapshot(spark, t, head).collect()
    }
    assert set(got) == set(range(50)) - {7, 8}
    assert got[2] == "p2"  # second upsert won; 100 inserted then deleted

    feed = snap.read_changes(spark, t, v0, head)
    sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    net = feed.groupBy("doc_id").agg(F.sum(sign).alias("s"))
    assert {r.doc_id for r in net.where(F.col("s") < 0).collect()} == {7, 8}
    assert net.where(F.col("s") > 0).count() == 0  # 100's insert cancelled


def test_update_where_semantics(spark, tmp_path):
    """update_where — SQL UPDATE: matched rows get SET expressions
    applied over their CURRENT values, NULL-predicate rows survive
    unchanged, only dirs containing a match rewrite, the feed carries
    pre/postimage pairs, unknown SET columns raise, batch_id replays
    dedup, and a non-deterministic predicate still commits a feed
    consistent with the new table state."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    v0 = snap.commit(spark, docs.where(F.col("doc_id") < 30), t)
    v1 = snap.commit(
        spark,
        docs.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 60)),
        t,
        mode="append",
    )
    m1 = snap._load_manifest(t, v1, snap._POSIX)

    v2 = snap.update_where(
        spark,
        t,
        "doc_id % 10 = 3 AND doc_id < 30",
        {"source": F.concat(F.lit("upd:"), F.col("source"))},
        batch_id=77,
    )
    got = snap.read_snapshot(spark, t, v2)
    assert got.count() == 60
    assert got.where(F.col("source").startswith("upd:")).count() == 3
    # only the dir containing matches rewrote; the other is carried
    m2 = snap._load_manifest(t, v2, snap._POSIX)
    assert m2["op"] == "update"
    assert sum(1 for d in m1["dirs"] if d in set(m2["dirs"])) == 1

    feed = snap.read_changes(spark, t, v1, v2)
    pairs = {
        (r.doc_id, r._change_subtype)
        for r in feed.select("doc_id", "_change_subtype").collect()
    }
    assert pairs == {
        (d, s)
        for d in (3, 13, 23)
        for s in ("update_preimage", "update_postimage")
    }
    # replay with the same batch_id is a no-op returning the version
    assert snap.update_where(
        spark, t, "doc_id = 0", {"source": F.lit("x")}, batch_id=77
    ) == v2
    assert snap.read_snapshot(spark, t).where(
        F.col("source") == "x"
    ).count() == 0

    with pytest.raises(ValueError, match="not table columns"):
        snap.update_where(spark, t, "doc_id = 0", {"nope": F.lit(1)})

    # non-deterministic predicate: feed preimages == rows that changed
    v3 = snap.current_version(t)
    before = {
        (r.doc_id, r.source) for r in snap.read_snapshot(spark, t, v3).collect()
    }
    v4 = snap.update_where(
        spark, t, F.rand() < 0.5, {"source": F.lit("flipped")}
    )
    after = {
        (r.doc_id, r.source) for r in snap.read_snapshot(spark, t, v4).collect()
    }
    feed2 = snap.read_changes(spark, t, v3, v4)
    pre = {
        (r.doc_id, r.source)
        for r in feed2.where(
            F.col("_change_subtype") == "update_preimage"
        ).collect()
    }
    post = {
        (r.doc_id, r.source)
        for r in feed2.where(
            F.col("_change_subtype") == "update_postimage"
        ).collect()
    }
    assert pre == before - after
    assert post == after - before
    assert 0 < len(pre) < 60


def test_check_constraints_lifecycle(spark, tmp_path):
    """Table-level CHECK constraints: registered at commit, carried
    forward by every op, enforced on appends/overwrites, merge
    sources and UPDATE postimages (NULL satisfies — SQL CHECK);
    delete/restore carry without re-validation; violation messages
    name the constraint and count."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    snap.commit(
        spark,
        docs.where(F.col("doc_id") < 30),
        t,
        check_constraints={
            "id_nonneg": "doc_id >= 0",
            "id_below_1000": "doc_id < 1000",
        },
    )
    # carried + enforced on a later append; a violating append raises
    snap.commit(
        spark,
        docs.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 60)),
        t,
        mode="append",
    )
    bad = spark.createDataFrame([(2000, "x")], "doc_id long, source string")
    with pytest.raises(snap.ConstraintViolationError, match="id_below_1000"):
        snap.commit(spark, bad, t, mode="append")
    assert snap.read_snapshot(spark, t).count() == 60  # nothing landed

    # NULL satisfies (SQL CHECK rule)
    nullish = spark.createDataFrame(
        [(None, "n")], "doc_id long, source string"
    )
    v_null = snap.commit(spark, nullish, t, mode="append")
    assert snap.read_snapshot(spark, t, v_null).count() == 61

    # merge source enforcement
    with pytest.raises(snap.ConstraintViolationError, match="id_below_1000"):
        snap.merge_upsert(
            spark,
            spark.createDataFrame([(5000, "y")], "doc_id long, source string"),
            t,
            keys=["doc_id"],
        )
    # UPDATE postimage enforcement (preimages are fine; SET violates)
    with pytest.raises(snap.ConstraintViolationError, match="id_nonneg"):
        snap.update_where(
            spark, t, "doc_id = 5", {"doc_id": "doc_id - 100000"}
        )
    # a VALID update passes and the constraint set carries forward
    v_ok = snap.update_where(spark, t, "doc_id = 5", {"source": "'u'"})
    m = snap._load_manifest(t, v_ok, snap._POSIX)
    assert set(m["constraints"]) == {"id_nonneg", "id_below_1000"}
    # delete carries constraints without re-validation
    v_d = snap.delete_where(spark, t, "doc_id = 7")
    m_d = snap._load_manifest(t, v_d, snap._POSIX)
    assert set(m_d["constraints"]) == {"id_nonneg", "id_below_1000"}
    # non-string constraint expressions refuse (manifests are JSON)
    with pytest.raises(ValueError, match="SQL string"):
        snap.commit(
            spark,
            docs.limit(1),
            t,
            mode="append",
            check_constraints={"c": F.col("doc_id") > 0},
        )


def test_snapshot_stream_source(spark, tmp_path):
    """Structured Streaming SOURCE over the snapshot log (streaming/
    snapshot_source.py): micro-batches are commits — appends ship new
    dirs, merge/update ship change-set INSERT rows, deletes ship
    nothing; offsets are manifest versions, so a checkpointed restart
    consumes ONLY commits that landed after the first drain
    (exactly-once tailing); ignore_changes skips an overwrite."""
    from deepcell_data_engineering_spark.streaming import snapshot_source

    snapshot_source.register(spark)
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    snap.commit(spark, docs.where(F.col("doc_id") < 20), t)          # v0
    snap.commit(
        spark,
        docs.where((F.col("doc_id") >= 20) & (F.col("doc_id") < 40)),
        t,
        mode="append",
    )                                                                # v1
    batch = spark.createDataFrame(
        [(2, "patched", "U"), (25, None, "D"), (100, "fresh", "U")],
        "doc_id long, source string, op string",
    )
    snap.merge_upsert(
        spark, batch, t, keys=["doc_id"],
        delete_condition="op = 'D'", source_meta_cols=["op"],
    )                                                                # v2
    snap.delete_where(spark, t, "doc_id = 7")                        # v3

    ckpt = str(tmp_path / "ckpt")

    def drain(extra_opts=None):
        out = []

        def sink(bdf, bid):
            out.extend(
                (r.doc_id, r.source, r._commit_version)
                for r in bdf.collect()
            )

        reader = spark.readStream.format("snapshot_stream").option(
            "path", t
        )
        for k, v in (extra_opts or {}).items():
            reader = reader.option(k, v)
        q = (
            reader.load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return out

    rows = set(drain())
    # v0/v1 appends ship raw rows; v2 ships postimage(2) + insert(100);
    # v3 ships nothing
    v01 = {
        (r.doc_id, r.source, v)
        for v, lo, hi in ((0, 0, 20), (1, 20, 40))
        for r in docs.where(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).collect()
    }
    assert rows == v01 | {(2, "patched", 2), (100, "fresh", 2)}

    # new commits after the drain: a restart ships ONLY those
    snap.commit(
        spark,
        docs.where((F.col("doc_id") >= 40) & (F.col("doc_id") < 45)),
        t,
        mode="append",
    )                                                                # v4
    snap.update_where(spark, t, "doc_id = 3", {"source": "'u3'"})    # v5
    rows2 = set(drain())
    assert {v for _, _, v in rows2} == {4, 5}
    assert (3, "u3", 5) in rows2
    assert sum(1 for _, _, v in rows2 if v == 4) == 5

    # an overwrite cannot stream as appends: skipped with
    # ignore_changes, and the NEXT append still flows
    snap.commit(spark, docs.where(F.col("doc_id") < 3), t,
                mode="overwrite")                                    # v6
    snap.commit(spark, docs.where(F.col("doc_id") == 99), t,
                mode="append")                                       # v7
    rows3 = {
        (d, v) for d, _, v in drain({"ignore_changes": "true"})
    }
    assert rows3 == {(99, 7)}


def test_add_drop_constraint_lifecycle(spark, tmp_path):
    """ALTER-style constraint lifecycle verbs (snapshots.add_constraint
    / drop_constraint — r12 verdict #4): ADD validates the EXISTING
    data in one aggregate pass (a violating table refuses the
    constraint with per-constraint counts, Delta's ALTER TABLE ADD
    CONSTRAINT contract), publishes a metadata-only commit whose dir
    list is the parent's; DROP removes it, after which a write
    violating the old rule succeeds."""
    t = str(tmp_path / "tbl")
    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "n_chars"
    )
    snap.commit(spark, docs, t, mode="overwrite")
    base_dirs = snap._load_manifest(t, 0, snap._POSIX)["dirs"]

    # a constraint the existing data violates refuses with counts
    with pytest.raises(
        snap.ConstraintViolationError, match="tiny_ids"
    ):
        snap.add_constraint(spark, t, "tiny_ids", "doc_id < 3")
    assert snap.current_version(t, snap._POSIX) == 0  # nothing published

    # a holding constraint publishes a metadata-only commit
    v = snap.add_constraint(spark, t, "id_nonneg", "doc_id >= 0")
    m = snap._load_manifest(t, v, snap._POSIX)
    assert m["op"] == "add_constraint"
    assert m["dirs"] == base_dirs  # parent's dirs carried verbatim
    assert m["constraints"] == {"id_nonneg": "doc_id >= 0"}
    assert snap.read_snapshot(spark, t).count() == docs.count()

    # enforced on later writes
    bad = spark.createDataFrame([(-1, 5)], "doc_id long, n_chars long")
    with pytest.raises(snap.ConstraintViolationError, match="id_nonneg"):
        snap.commit(spark, bad, t, mode="append")

    # unknown drop raises; if_exists is a no-op
    with pytest.raises(ValueError, match="no constraint"):
        snap.drop_constraint(spark, t, "ghost")
    assert snap.drop_constraint(spark, t, "ghost", if_exists=True) == v

    # drop, then the previously-violating write succeeds
    v2 = snap.drop_constraint(spark, t, "id_nonneg")
    m2 = snap._load_manifest(t, v2, snap._POSIX)
    assert m2["op"] == "drop_constraint"
    assert "constraints" not in m2 or "id_nonneg" not in m2["constraints"]
    snap.commit(spark, bad, t, mode="append")
    assert snap.read_snapshot(spark, t).count() == docs.count() + 1


def test_new_constraint_on_append_validates_basis(spark, tmp_path):
    """commit(check_constraints=...) introducing a NEW constraint name
    on an append validates the EXISTING snapshot too (r12 ADVICE):
    pre-existing violations refuse the commit up front instead of
    being grandfathered to surface from an unrelated later UPDATE."""
    t = str(tmp_path / "tbl")
    snap.commit(
        spark,
        spark.range(10).selectExpr("id", "id - 5 AS val"),
        t,
        mode="overwrite",
    )
    clean = spark.createDataFrame([(100, 100)], "id long, val long")
    with pytest.raises(snap.ConstraintViolationError, match="val_pos"):
        snap.commit(
            spark, clean, t, mode="append",
            check_constraints={"val_pos": "val >= 0"},
        )
    # the same commit as an OVERWRITE discards the old rows: accepted
    v = snap.commit(
        spark, clean, t, mode="overwrite",
        check_constraints={"val_pos": "val >= 0"},
    )
    assert snap._load_manifest(t, v, snap._POSIX)["constraints"] == {
        "val_pos": "val >= 0"
    }


def test_commit_constraints_pin_nondeterministic_df(spark, tmp_path):
    """With constraints present, commit() pins df via one eager
    localCheckpoint so validation and the write see the SAME rows
    (r12 ADVICE): a rand()-derived frame either fully satisfies the
    written data or the commit raises — never a validated-clean,
    written-dirty split."""
    t = str(tmp_path / "tbl")
    df = spark.range(500).withColumn("r", F.rand(0) * 100)
    snap.commit(
        spark, df, t, mode="overwrite",
        check_constraints={"r_range": "r >= 0 AND r < 100"},
    )
    got = snap.read_snapshot(spark, t)
    assert got.count() == 500
    assert got.where("r < 0 OR r >= 100").count() == 0


def test_rewrite_rebases_over_concurrent_append(spark, tmp_path):
    """Delta-style logical conflict resolution (r12 verdict #6): a
    rewrite pinned to a stale basis auto-rebases when only pure
    appends interleaved — appended dirs survive, rewritten dirs land —
    and raises when an interleaved commit itself rewrote data."""
    import uuid as _uuid

    t = str(tmp_path / "tbl")
    snap.commit(
        spark,
        spark.range(100).selectExpr("id", "id % 5 AS k"),
        t,
        mode="overwrite",
    )
    basis = snap.current_version(t, snap._POSIX)
    # a concurrent append lands after the rewrite's basis read
    snap.commit(
        spark,
        spark.range(100, 110).selectExpr("id", "id % 5 AS k"),
        t,
        mode="append",
    )
    # the rewrite (computed from basis: drop k==0) publishes pinned
    surv = snap.read_snapshot(spark, t, basis).where("k <> 0")
    d = os.path.join(t, snap._DATA_DIR, "c" + _uuid.uuid4().hex[:12])
    surv.write.parquet(d)
    v = snap._publish(
        t, snap._POSIX, "delete", {os.path.relpath(d, t): ({}, None)}, [],
        basis=basis, rebase=True,
    )
    got = snap.read_snapshot(spark, t)
    assert got.count() == 90  # 80 survivors + 10 appended
    assert got.where("k = 0 AND id < 100").count() == 0
    assert got.where("id >= 100").count() == 10
    m = snap._load_manifest(t, v, snap._POSIX)
    assert m["parent"] == basis + 1  # rebased onto the append

    # overlap: an interleaved REWRITE is not rebaseable
    basis2 = v
    snap.delete_where(spark, t, "k = 1")
    with pytest.raises(snap.SnapshotConflictError, match="not rebaseable"):
        snap._publish(
            t, snap._POSIX, "delete", {os.path.relpath(d, t): ({}, None)},
            [], basis=basis2, rebase=True,
        )


def test_concurrent_append_during_delete_threaded(spark, tmp_path):
    """A genuinely THREADED append racing a delete_where: whatever the
    interleaving (append before the basis read, inside the
    read->publish window, or after the publish), the final table holds
    the delete's survivors PLUS the appended rows — the rebase path
    makes the mid-window case converge to the same answer instead of
    raising."""
    import threading

    t = str(tmp_path / "tbl")
    snap.commit(
        spark,
        spark.range(2000).selectExpr("id", "id % 10 AS k"),
        t,
        mode="overwrite",
    )
    appended = spark.range(10_000, 10_050).selectExpr("id", "id % 10 AS k")
    err: list[Exception] = []

    def race():
        try:
            snap.commit(spark, appended, t, mode="append")
        except Exception as e:  # pragma: no cover - surfaced below
            err.append(e)

    th = threading.Thread(target=race)
    th.start()
    try:
        snap.delete_where(spark, t, "k = 0")
    finally:
        th.join()
    assert not err, err
    got = snap.read_snapshot(spark, t)
    # 1800 survivors; appended rows present except any k=0 casualties
    # ONLY if the append landed before the delete's basis read — all
    # three interleavings leave k<>0 appended rows intact
    assert got.where("id < 2000").count() == 1800
    assert got.where("id >= 10000 AND k <> 0").count() == 45


def test_drop_table_purge_refuses_alias(spark, tmp_path):
    """drop_table(purge=True) refuses while another catalog NAME
    resolves to the same data root (r12 ADVICE): purging one alias
    must not leave the other pointing at deleted bytes. Dropping the
    alias first (no purge) unblocks the purge."""
    from deepcell_data_engineering_spark.sources.table_catalog import (
        SnapshotCatalog,
    )

    t = str(tmp_path / "tbl")
    snap.commit(spark, spark.range(5).selectExpr("id"), t)
    cat = SnapshotCatalog(str(tmp_path / "cat"))
    cat.create_table("docs", t)
    cat.create_table("docs_alias", t)
    with pytest.raises(ValueError, match="also\\s+resolve"):
        cat.drop_table("docs", purge=True)
    # both names intact, data intact
    assert set(cat.tables()) == {"docs", "docs_alias"}
    assert snap.read_snapshot(spark, t).count() == 5
    # plain drop of the alias, then purge succeeds
    cat.drop_table("docs_alias")
    cat.drop_table("docs", purge=True)
    assert cat.tables() == {}
    assert not os.path.exists(os.path.join(t, snap._DATA_DIR))


def _drain_processing(spark, reader_opts, ckpt, expect_rows, timeout=90):
    """Run a snapshot_stream with a processing trigger until
    ``expect_rows`` rows arrived (or timeout); returns the non-empty
    (batch_id, rows) pairs in order."""
    import time as _time

    batches = []

    def sink(bdf, bid):
        n = bdf.count()
        if n:
            batches.append((bid, n))

    reader = spark.readStream.format("snapshot_stream")
    for k, v in reader_opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.foreachBatch(sink)
        .trigger(processingTime="300 milliseconds")
        .option("checkpointLocation", ckpt)
        .start()
    )
    deadline = _time.time() + timeout
    try:
        while (
            _time.time() < deadline
            and sum(n for _, n in batches) < expect_rows
        ):
            _time.sleep(0.3)
    finally:
        q.stop()
        q.awaitTermination(30)
    return batches


def test_snapshot_stream_rate_limit(spark, tmp_path):
    """max_files_per_batch (Delta's maxFilesPerTrigger — r12 verdict
    #5): a backfill commit drains as several bounded micro-batches,
    splitting mid-commit at file granularity, with exactly-once
    totals; a checkpointed RESTART under rate limiting re-learns the
    committed floor (one empty catch-up batch at most) and ships only
    new commits — never a duplicate."""
    from deepcell_data_engineering_spark.streaming import snapshot_source

    snapshot_source.register(spark)
    t = str(tmp_path / "tbl")
    snap.commit(
        spark,
        spark.range(40).selectExpr("id", "id * 2 AS val").repartition(8),
        t,
        mode="overwrite",
    )
    snap.commit(
        spark,
        spark.range(40, 50).selectExpr("id", "id * 2 AS val").repartition(2),
        t,
        mode="append",
    )
    ckpt = str(tmp_path / "ckpt")
    batches = _drain_processing(
        spark,
        {"path": t, "max_files_per_batch": "3"},
        ckpt,
        expect_rows=50,
    )
    assert sum(n for _, n in batches) == 50
    assert len(batches) >= 4  # 10 files at <=3 per batch

    # restart on the same checkpoint, still rate-limited: the fresh
    # reader's first bounded offset is BEHIND the checkpoint (the
    # Python API has no admission-control start) — the learned floor
    # turns that into one empty catch-up batch, then only new rows
    snap.commit(
        spark,
        spark.range(50, 56).selectExpr("id", "id * 2 AS val").repartition(3),
        t,
        mode="append",
    )
    batches2 = _drain_processing(
        spark,
        {"path": t, "max_files_per_batch": "2"},
        ckpt,
        expect_rows=6,
    )
    assert sum(n for _, n in batches2) == 6
    assert len(batches2) >= 2  # 3 files at <=2 per batch


def test_snapshot_stream_initial_overwrite_load(spark, tmp_path):
    """A table whose v0 was written with mode='overwrite' (the common
    create pattern) streams its first commit as an initial load
    instead of erroring (r12 ADVICE — Delta's starting-snapshot
    batch); ops on later versions keep their strict semantics."""
    from deepcell_data_engineering_spark.streaming import snapshot_source

    snapshot_source.register(spark)
    t = str(tmp_path / "tbl")
    snap.commit(
        spark, spark.range(7).selectExpr("id", "id AS val"), t,
        mode="overwrite",
    )
    out = []

    def sink(bdf, bid):
        out.extend((r.id, r._commit_version) for r in bdf.collect())

    q = (
        spark.readStream.format("snapshot_stream")
        .option("path", t)
        .load()
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    assert sorted(out) == [(i, 0) for i in range(7)]


def test_snapshot_stream_by_name_and_rename(spark, tmp_path):
    """Stream-by-name (r12 verdict #8): option('table_name') +
    option('catalog_root') resolve the root through the catalog log;
    a RENAME re-points the name at the same path, so a restarted
    stream under the new name keeps its checkpointed position."""
    from deepcell_data_engineering_spark.sources.table_catalog import (
        SnapshotCatalog,
    )
    from deepcell_data_engineering_spark.streaming import snapshot_source

    snapshot_source.register(spark)
    root = str(tmp_path)
    t = os.path.join(root, "tbl")
    snap.commit(spark, spark.range(10).selectExpr("id"), t)
    cat = SnapshotCatalog(os.path.join(root, "cat"))
    cat.create_table("docs", t)
    ckpt = os.path.join(root, "ckpt")

    def drain(name):
        got = []

        def sink(bdf, bid):
            got.extend(r.id for r in bdf.collect())

        q = (
            spark.readStream.format("snapshot_stream")
            .option("table_name", name)
            .option("catalog_root", os.path.join(root, "cat"))
            .load()
            .writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination(120)
        return got

    assert sorted(drain("docs")) == list(range(10))
    # unknown names resolve to a clean error listing what exists
    with pytest.raises(Exception, match="no table named"):
        spark.readStream.format("snapshot_stream").option(
            "table_name", "ghost"
        ).option("catalog_root", os.path.join(root, "cat")).load()
    cat.rename_table("docs", "corpus")
    snap.commit(spark, spark.range(10, 13).selectExpr("id"), t,
                mode="append")
    assert sorted(drain("corpus")) == [10, 11, 12]


def test_stream_reader_offset_bookkeeping(spark, tmp_path):
    """Unit test of the reader's self-tracked offsets (no streaming
    query): bounded latestOffset walks split mid-commit; partitions()
    slices file ranges; a stale BACKWARD latestOffset after restart
    becomes an empty batch whose start teaches the committed floor,
    below which files are never re-planned; commit() prunes the plan
    cache to O(in-flight)."""
    from deepcell_data_engineering_spark.streaming.snapshot_source import (
        SnapshotStreamReader,
    )

    t = str(tmp_path / "tbl")
    snap.commit(
        spark, spark.range(20).selectExpr("id").repartition(4), t,
        mode="overwrite",
    )                                                                # v0: 4 files
    snap.commit(
        spark, spark.range(20, 32).selectExpr("id").repartition(3), t,
        mode="append",
    )                                                                # v1: 3 files
    r = SnapshotStreamReader(
        {"path": t, "max_files_per_batch": "3"}, ["id"]
    )
    assert r.initialOffset() == {"version": 0, "index": 0}
    o1 = r.latestOffset()
    assert (o1["version"], o1["index"]) == (0, 3)  # mid-commit split
    p1 = r.partitions(r.initialOffset(), o1)
    assert len(p1) == 3
    o2 = r.latestOffset()
    assert (o2["version"], o2["index"]) == (1, 2)  # 4th v0 file + 2 of v1
    assert len(r.partitions(o1, o2)) == 3
    r.commit(o2)
    assert set(r._plans) == {1}  # v0's plan pruned, v1 in flight
    o3 = r.latestOffset()
    assert (o3["version"], o3["index"]) == (2, 0)
    assert len(r.partitions(o2, o3)) == 1

    # fresh reader (a restart): its first bounded walk is BEHIND the
    # checkpointed position; the engine's backward empty batch teaches
    # the floor and nothing below it is ever re-planned
    r2 = SnapshotStreamReader(
        {"path": t, "max_files_per_batch": "2"}, ["id"]
    )
    stale = r2.latestOffset()
    assert (stale["version"], stale["index"]) == (0, 2)
    assert r2.partitions(o3, stale) == []  # backward -> empty, learn
    o4 = r2.latestOffset()
    assert (o4["version"], o4["index"]) == (2, 0)  # resumed at floor
    assert r2.partitions(stale, o4) == []  # all below floor: no dupes


def test_stream_reader_pinned_schema(spark, tmp_path):
    """The reader's field order is pinned by the resolved query schema
    the engine hands streamReader() (r12 ADVICE): a schema-evolving
    commit landing between schema() and reader construction cannot
    skew tuple order or width."""
    from pyspark.sql.types import _parse_datatype_string

    from deepcell_data_engineering_spark.streaming.snapshot_source import (
        SnapshotStreamDataSource,
    )

    t = str(tmp_path / "tbl")
    snap.commit(
        spark, spark.range(3).selectExpr("id", "id * 2 AS val"), t,
        mode="overwrite",
    )
    ds = SnapshotStreamDataSource({"path": t})
    ddl = ds.schema()  # resolved BEFORE the evolving commit
    assert ddl.startswith("id bigint, val bigint")
    # an evolved commit lands in the schema()->streamReader() window
    snap.commit(
        spark,
        spark.range(3, 5).selectExpr(
            "id", "id * 2 AS val", "'x' AS extra"
        ),
        t,
        mode="append",
    )
    reader = ds.streamReader(_parse_datatype_string(ddl))
    assert reader.fields == ["id", "val"]  # pinned, no 'extra'
    parts = reader.partitions(
        {"version": 1, "index": 0}, {"version": 2, "index": 0}
    )
    rows = [row for p in parts for row in reader.read(p)]
    # width matches the PINNED schema (+_commit_version), not the
    # evolved file's
    assert all(len(row) == 3 for row in rows)
    assert sorted(r[0] for r in rows) == [3, 4]


def test_replace_where_semantics(spark, tmp_path):
    """Delta replaceWhere: predicate scope atomically swapped for the
    replacement frame; out-of-scope rows and directories untouched;
    CDC ships exact deletes+inserts; op labeled in history."""
    t = str(tmp_path / "tbl")
    snap.commit(
        spark,
        spark.range(100).selectExpr("id", "id % 5 AS k"),
        t,
        mode="overwrite",
    )
    snap.commit(
        spark,
        spark.range(100, 150).selectExpr("id", "id % 5 AS k"),
        t,
        mode="append",
    )
    dirs_before = snap._load_manifest(t, 1, snap._POSIX)["dirs"]
    repl = spark.range(1000, 1010).selectExpr("id", "CAST(2 AS BIGINT) AS k")
    v = snap.replace_where(spark, repl, t, "k = 2")
    got = snap.read_snapshot(spark, t)
    assert got.where("k = 2").count() == 10
    assert sorted(
        r["id"] for r in got.where("k = 2").collect()
    ) == list(range(1000, 1010))
    # out-of-scope rows all survive
    assert got.where("k <> 2").count() == 150 - 30
    # both parent dirs contained k=2 rows -> both rewritten; history op
    m = snap._load_manifest(t, v, snap._POSIX)
    assert not set(m["dirs"]) & set(dirs_before)
    assert snap.history(t)[-1]["op"] == "replace_where"
    # CDC: 30 deletes (the replaced scope), 10 inserts
    chg = snap.read_changes(spark, t, v - 1, v)
    assert chg.where("_change_type = 'delete'").count() == 30
    assert chg.where("_change_type = 'insert'").count() == 10
    assert chg.where("_change_type = 'delete' AND k <> 2").count() == 0
    # time travel below the replace still sees the old scope
    assert snap.read_snapshot(spark, t, 1).where(
        "k = 2 AND id < 1000"
    ).count() == 30


def test_replace_where_validation_and_null_predicate(spark, tmp_path):
    """validate=True refuses replacement rows outside the predicate
    BEFORE publishing; NULL-predicate rows are survivors, never
    replaced (SQL DELETE rule)."""
    t = str(tmp_path / "tbl")
    base = spark.range(20).selectExpr(
        "id", "CASE WHEN id % 3 = 0 THEN NULL ELSE id % 2 END AS k"
    )
    snap.commit(spark, base, t, mode="overwrite")
    head = snap.current_version(t)
    bad = spark.range(2).selectExpr("id + 500 AS id", "id AS k")  # k=0,1
    with pytest.raises(ValueError, match="do not satisfy"):
        snap.replace_where(spark, bad, t, "k = 1")
    assert snap.current_version(t) == head  # nothing published
    ok = spark.range(3).selectExpr(
        "id + 500 AS id", "CAST(1 AS BIGINT) AS k"
    )
    snap.replace_where(spark, ok, t, "k = 1")
    got = snap.read_snapshot(spark, t)
    # NULL-k rows (id%3=0 -> 7 of 20) survive; k=0 rows survive
    assert got.where("k IS NULL").count() == 7
    assert got.where("k = 0").count() == base.where("k = 0").count()
    assert sorted(r["id"] for r in got.where("k = 1").collect()) == [
        500, 501, 502,
    ]
    # an EMPTY reload is a scoped delete
    snap.replace_where(spark, ok.limit(0), t, "k = 1")
    assert snap.read_snapshot(spark, t).where("k = 1").count() == 0
    assert snap.read_snapshot(spark, t).where("k IS NULL").count() == 7


def test_replace_where_initial_load_and_schema_guard(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.range(5).selectExpr("id", "CAST(1 AS BIGINT) AS k")
    v = snap.replace_where(spark, df, t, "k = 1")  # empty table: v0 load
    assert v == 0
    assert snap.read_snapshot(spark, t).count() == 5
    with pytest.raises(ValueError, match="schema differs"):
        snap.replace_where(
            spark,
            spark.range(3).selectExpr(
                "id + 10 AS id", "CAST(1 AS BIGINT) AS other"
            ),
            t,
            "other = 1",
        )


def test_commit_timestamps_monotonic(spark, tmp_path):
    """Commit stamps are wall-clock forced monotonic past the parent
    (in-commit-timestamp rule); history exposes them."""
    t = str(tmp_path / "tbl")
    df = spark.range(3).selectExpr("id")
    before = __import__("time").time_ns() // 1000
    snap.commit(spark, df, t)
    snap.commit(spark, df, t, mode="append")
    # an injected stamp BEHIND the parent is floored, never backwards
    snap.commit(spark, df, t, mode="append", _ts_us=1)
    h = snap.history(t)
    ts = [e["ts_us"] for e in h]
    assert ts[0] >= before
    assert ts[0] < ts[1] < ts[2]
    assert ts[2] == ts[1] + 1  # the floored injection


def test_timestamp_time_travel_resolution(spark, tmp_path):
    """TIMESTAMP AS OF: latest version at-or-before; both boundary
    directions raise (earlier than earliest retained, later than
    head) — Delta's rules."""
    t = str(tmp_path / "tbl")
    a = spark.range(5).selectExpr("id")
    snap.commit(spark, a, t, _ts_us=1_000 * 1_000_000)         # v0 @ t=1000s
    snap.commit(spark, a, t, mode="append",
                _ts_us=2_000 * 1_000_000)                       # v1 @ 2000s
    snap.commit(spark, a, t, mode="overwrite",
                _ts_us=3_000 * 1_000_000)                       # v2 @ 3000s
    assert snap.version_at_timestamp(t, 1_000) == 0      # exact hit
    assert snap.version_at_timestamp(t, 1_999.5) == 0    # between
    assert snap.version_at_timestamp(t, 2_000) == 1
    assert snap.version_at_timestamp(t, 3_000) == 2
    assert snap.read_snapshot(spark, t, timestamp=2_500).count() == 10
    # datetime + ISO-string forms resolve identically
    import datetime as dt

    d = dt.datetime.fromtimestamp(2_500, dt.timezone.utc)
    assert snap.version_at_timestamp(t, d) == 1
    assert snap.version_at_timestamp(t, d.isoformat()) == 1
    with pytest.raises(ValueError, match="precedes the earliest"):
        snap.version_at_timestamp(t, 999)
    with pytest.raises(ValueError, match="after the latest"):
        snap.version_at_timestamp(t, 3_001)
    with pytest.raises(ValueError, match="not both"):
        snap.read_snapshot(spark, t, 1, timestamp=2_500)
    # vacuumed history refuses instead of resolving to wrong data
    snap.commit(spark, a, t, mode="overwrite", _ts_us=4_000 * 1_000_000)
    snap.vacuum(t, keep_last=1)
    with pytest.raises(ValueError, match="precedes the earliest"):
        snap.version_at_timestamp(t, 2_500)
    assert snap.version_at_timestamp(t, 4_000) == 3


def test_optimize_zorder_clusters_and_prunes(spark, tmp_path):
    """OPTIMIZE ZORDER BY: content-preserving rewrite into per-bucket
    manifest directories with tight per-bucket stats on BOTH cluster
    columns — scan_snapshot range pruning then skips buckets for a
    predicate on either column; CRUD still attributes rows to the
    nested bucket dirs; vacuum sweeps them precisely."""
    t = str(tmp_path / "tbl")
    df = spark.range(4096).selectExpr(
        "id", "CAST(id % 64 AS BIGINT) AS x",
        "CAST((id * 37) % 64 AS BIGINT) AS y",
    )
    snap.commit(spark, df.repartition(6), t, mode="overwrite")
    v = snap.optimize_table(
        spark, t, zorder_by=["x", "y"], zorder_buckets=8
    )
    m = snap._load_manifest(t, v, snap._POSIX)
    assert len(m["dirs"]) == 8
    assert all("/_zb=" in d for d in m["dirs"])
    # content identical
    got = snap.read_snapshot(spark, t, v)
    assert got.count() == 4096
    assert got.selectExpr("sum(id)").collect()[0][0] == 4096 * 4095 // 2
    # every bucket carries stats for both cluster columns, and at
    # least one bucket prunes for a tight predicate on EACH column
    stats = m["stats"]
    assert set(stats) == set(m["dirs"])
    assert all({"x", "y"} <= set(s) for s in stats.values())
    for col in ("x", "y"):
        kept = snap._prune_dirs(m, {col: (0, 3)})
        assert len(kept) < len(m["dirs"])
        scanned = snap.scan_snapshot(spark, t, {col: (0, 3)})
        assert scanned.where(f"{col} <= 3").count() == df.where(
            f"{col} <= 3"
        ).count()
    # CRUD over the z-ordered layout: delete attributes to bucket dirs
    snap.delete_where(spark, t, "x = 0")
    assert snap.read_snapshot(spark, t).where("x = 0").count() == 0
    assert snap.read_snapshot(spark, t).count() == 4096 - 64
    # vacuum precision: while SOME buckets stay referenced (the ones
    # the delete didn't touch), only the rewritten buckets sweep —
    # never the shared parent wholesale
    head = snap._load_manifest(
        t, snap.current_version(t), snap._POSIX
    )
    live_buckets = [d for d in head["dirs"] if "/_zb=" in d]
    assert live_buckets  # the delete touched a strict subset
    removed = snap.vacuum(t, keep_last=1)
    assert any("/_zb=" in r for r in removed)
    assert not set(removed) & set(live_buckets)
    assert snap.read_snapshot(spark, t).count() == 4096 - 64
    # after a full overwrite nothing in the parent is referenced:
    # the whole commit dir sweeps as one entry
    snap.commit(spark, df.where("id < 10"), t, mode="overwrite")
    removed2 = snap.vacuum(t, keep_last=1)
    assert snap.read_snapshot(spark, t).count() == 10
    parents = {d.split("/_zb=")[0] for d in live_buckets}
    assert parents <= set(removed2)


def test_optimize_zorder_type_guard(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snap.commit(
        spark,
        spark.range(10).selectExpr("id", "CAST(id AS STRING) AS s"),
        t,
    )
    with pytest.raises(ValueError, match="integer-like"):
        snap.optimize_table(spark, t, zorder_by=["s"])


def test_optimize_zorder_on_empty_table_publishes_nothing(spark, tmp_path):
    """A zero-row table has NULL Z-value bounds and nothing to cluster:
    OPTIMIZE ZORDER BY returns the current version instead of raising
    on the NULL span."""
    t = str(tmp_path / "tbl")
    empty = spark.range(0).selectExpr("id", "CAST(id AS BIGINT) AS x")
    v0 = snap.commit(spark, empty, t, mode="overwrite")
    assert snap.optimize_table(spark, t, zorder_by=["id", "x"]) == v0
    assert snap.current_version(t) == v0
    assert snap.read_snapshot(spark, t).count() == 0


def test_restore_by_timestamp(spark, tmp_path):
    t = str(tmp_path / "tbl")
    a = spark.range(5).selectExpr("id")
    snap.commit(spark, a, t, _ts_us=1_000 * 1_000_000)
    snap.commit(spark, a, t, mode="append", _ts_us=2_000 * 1_000_000)
    v = snap.restore_table(spark, t, timestamp=1_500)
    assert snap.read_snapshot(spark, t, v).count() == 5
    with pytest.raises(ValueError, match="not both"):
        snap.restore_table(spark, t, 0, timestamp=1_500)


def test_snapshot_stream_starting_timestamp(spark, tmp_path):
    """starting_timestamp resolves to the EARLIEST commit at-or-after
    (Delta's streaming rule) — history before it never ships."""
    from deepcell_data_engineering_spark.streaming import (
        snapshot_source as src,
    )

    src.register(spark)
    t = str(tmp_path / "tbl")
    snap.commit(spark, spark.range(3).selectExpr("id"), t,
                _ts_us=1_000 * 1_000_000)
    snap.commit(spark, spark.range(10, 13).selectExpr("id"), t,
                mode="append", _ts_us=2_000 * 1_000_000)
    snap.commit(spark, spark.range(20, 23).selectExpr("id"), t,
                mode="append", _ts_us=3_000 * 1_000_000)
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    q = (
        spark.readStream.format("snapshot_stream")
        .option("path", t)
        .option("starting_timestamp", "1500")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert got == [10, 11, 12, 20, 21, 22]  # v0 (before ts) skipped
    # boundary errors: both-options and after-head
    with pytest.raises(Exception):
        src.SnapshotStreamReader(
            {"path": t, "starting_version": "0",
             "starting_timestamp": "1500"},
            ["id"],
        )
    with pytest.raises(ValueError, match="after the latest"):
        src._version_at_or_after(t, 9_000 * 1_000_000)


def test_concurrent_append_during_replace_where_threaded(spark, tmp_path):
    """A genuinely THREADED append racing replace_where: whatever the
    interleaving, the final table holds the out-of-scope survivors,
    the replacement rows, AND the appended rows — the rebase path
    makes the mid-window case converge instead of raising."""
    import threading

    t = str(tmp_path / "tbl")
    snap.commit(
        spark,
        spark.range(2000).selectExpr("id", "id % 10 AS k"),
        t,
        mode="overwrite",
    )
    appended = spark.range(10_000, 10_050).selectExpr(
        "id", "CAST(3 AS BIGINT) AS k"  # appended rows INSIDE the scope
    )
    err: list[Exception] = []

    def race():
        try:
            snap.commit(spark, appended, t, mode="append")
        except Exception as e:  # pragma: no cover
            err.append(e)

    th = threading.Thread(target=race)
    th.start()
    repl = spark.range(20_000, 20_010).selectExpr(
        "id", "CAST(3 AS BIGINT) AS k"
    )
    snap.replace_where(spark, repl, t, "k = 3")
    th.join()
    assert not err
    got = snap.read_snapshot(spark, t)
    # out-of-scope rows always survive
    assert got.where("k <> 3").count() == 1800
    k3 = sorted(r["id"] for r in got.where("k = 3").collect())
    # two legal serializations: append-then-replace (the scope swap
    # consumed the appended rows) or replace-then-append / rebased
    # mid-window (the appended rows the predicate never saw survive)
    if len(k3) == 10:
        assert k3 == list(range(20_000, 20_010))
    else:
        assert k3 == list(range(10_000, 10_050)) + list(
            range(20_000, 20_010)
        )
    # either way nothing from the ORIGINAL scope survives
    assert got.where("k = 3 AND id < 2000").count() == 0


def test_zorder_on_evolved_schema_table(spark, tmp_path):
    """OPTIMIZE ZORDER over a table whose directories have MIXED
    schemas (an evolve_schema merge added a column): the rewrite reads
    with mergeSchema and every bucket carries the UNION schema — no
    silent column drop."""
    t = str(tmp_path / "tbl")
    snap.commit(
        spark,
        spark.range(200).selectExpr("id", "id % 16 AS x"),
        t,
        mode="overwrite",
    )
    src = spark.range(200, 260).selectExpr(
        "id", "id % 16 AS x", "'new' AS tag"
    )
    snap.merge_upsert(spark, src, t, keys=["id"], evolve_schema=True)
    v = snap.optimize_table(
        spark, t, zorder_by=["x", "id"], zorder_buckets=4
    )
    got = snap.read_snapshot(spark, t, v)
    assert set(got.columns) == {"id", "x", "tag"}
    assert got.count() == 260
    assert got.where("tag = 'new'").count() == 60
    assert got.where("tag IS NULL").count() == 200
    m = snap._load_manifest(t, v, snap._POSIX)
    assert all("/_zb=" in d for d in m["dirs"])


def test_replace_where_on_zordered_table(spark, tmp_path):
    """Cross-feature: the predicate-scoped overwrite attributes rows
    to nested Z-bucket directories, rewrites only the buckets that
    contain a match, and keeps the rest by reference."""
    t = str(tmp_path / "tbl")
    snap.commit(
        spark,
        spark.range(4096).selectExpr(
            "id", "CAST(id % 64 AS BIGINT) AS x",
            "CAST((id * 37) % 64 AS BIGINT) AS y",
        ),
        t,
        mode="overwrite",
    )
    vz = snap.optimize_table(
        spark, t, zorder_by=["x", "y"], zorder_buckets=8
    )
    zdirs = set(snap._load_manifest(t, vz, snap._POSIX)["dirs"])
    repl = spark.range(100_000, 100_005).selectExpr(
        "id", "CAST(0 AS BIGINT) AS x", "CAST(0 AS BIGINT) AS y"
    )
    v = snap.replace_where(spark, repl, t, "x = 0 AND y = 0")
    got = snap.read_snapshot(spark, t, v)
    assert got.where("x = 0 AND y = 0 AND id < 100000").count() == 0
    assert got.where("id >= 100000").count() == 5
    assert got.count() == 4096 - spark.range(4096).selectExpr(
        "CAST(id % 64 AS BIGINT) AS x", "CAST((id*37) % 64 AS BIGINT) AS y"
    ).where("x = 0 AND y = 0").count() + 5
    # untouched buckets carried by reference, touched ones rewritten
    kept = set(snap._load_manifest(t, v, snap._POSIX)["dirs"]) & zdirs
    assert kept and kept < zdirs


def test_timestamps_monotonic_across_rebase(spark, tmp_path):
    """A rebased rewrite's commit stamp still lands strictly after the
    interleaved append's (the per-retry re-read of the parent's ts
    floors the stamp even when the parent changed mid-publish)."""
    import uuid as _uuid

    t = str(tmp_path / "tbl")
    snap.commit(
        spark,
        spark.range(100).selectExpr("id", "id % 5 AS k"),
        t,
        mode="overwrite",
        _ts_us=1_000 * 1_000_000,
    )
    basis = snap.current_version(t)
    snap.commit(
        spark,
        spark.range(100, 110).selectExpr("id", "id % 5 AS k"),
        t,
        mode="append",
        _ts_us=5_000 * 1_000_000,
    )
    surv = snap.read_snapshot(spark, t, basis).where("k <> 0")
    d = os.path.join(t, snap._DATA_DIR, "c" + _uuid.uuid4().hex[:12])
    surv.write.parquet(d)
    v = snap._publish(
        t, snap._POSIX, "delete", {os.path.relpath(d, t): ({}, None)}, [],
        basis=basis, rebase=True,
        ts_us=2_000 * 1_000_000,  # injected BEHIND the append's stamp
    )
    h = {e["version"]: e["ts_us"] for e in snap.history(t)}
    assert h[v] > h[v - 1] > h[v - 2]
    assert h[v] == 5_000 * 1_000_000 + 1  # floored past the append


# --- manifest-answered metadata: uniform marker, change_schema, sizing ---


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _footer_schema(spark, t, dirs):
    return spark.read.parquet(*[os.path.join(t, d) for d in dirs]).schema


def _uniform_crud_table(spark, t):
    """Three appends, then one of each rewrite verb, on a 3-column table."""
    base = spark.range(120).select(
        F.col("id").alias("k"),
        (F.col("id") % 9).cast("smallint").alias("sh"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("tag"),
    )
    for i in range(3):
        snap.commit(spark, base.where(F.col("k") % 3 == i), t,
                    stats_cols=["k"])
    snap.update_where(spark, t, "k < 10", {"sh": "sh + 1"})
    snap.delete_where(spark, t, "k > 110")
    snap.merge_upsert(
        spark,
        base.where("k < 5").withColumn("tag", F.lit("m")),
        t,
        keys=["k"],
    )
    snap.replace_where(
        spark, base.where("k BETWEEN 40 AND 50"), t, "k BETWEEN 40 AND 50"
    )
    return base


def test_uniform_table_reads_build_without_spark_jobs(spark, tmp_path):
    """On a uniform table every version carries the marker, and building
    read_snapshot, scan_snapshot and read_changes runs ZERO Spark jobs
    (no footer inference); the frames read what the inferred reads do."""
    t = str(tmp_path / "tbl")
    _uniform_crud_table(spark, t)
    head = snap.current_version(t)
    for v in range(head + 1):
        m = snap._load_manifest(t, v, snap._POSIX)
        assert m.get("uniform") is True, (v, m["op"])
        if m["op"] != "append":
            assert "change_schema" in m, v

    before = _jobs(spark)
    cur = snap.read_snapshot(spark, t)
    past = snap.read_snapshot(spark, t, 1)
    scanned = snap.scan_snapshot(spark, t, {"k": (0, 20)})
    feed = snap.read_changes(spark, t, 0)
    assert _jobs(spark) == before

    m = snap._load_manifest(t, head, snap._POSIX)
    assert cur.schema == _footer_schema(spark, t, m["dirs"])
    inferred = spark.read.parquet(*[os.path.join(t, d) for d in m["dirs"]])
    assert sorted(map(tuple, cur.collect())) == sorted(
        map(tuple, inferred.collect())
    )
    assert past.count() == 80
    assert scanned.where("k <= 20").count() == 21
    got = {r[0]: r[1] for r in feed.groupBy("_change_type").count().collect()}
    # appends v1, v2: 80 inserts; update: 10 pre/post; delete: 9;
    # merge: 5 pre/post; replace_where: 11 deleted + 11 inserted
    assert got == {"insert": 80 + 10 + 5 + 11, "delete": 10 + 9 + 5 + 11}


def test_recorded_schema_equals_footer_schema_across_types(spark, tmp_path):
    """The recorded-schema read returns exactly the schema footer
    inference would, across decimal, timestamp/ntz, short, binary,
    date, nested array/map/struct and field metadata — through appends
    and every rewrite verb."""
    df = spark.sql(
        """SELECT id AS k,
                  CAST(id AS DECIMAL(12, 3)) AS dec,
                  CAST(id AS SMALLINT) AS sh,
                  TIMESTAMP'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts,
                  TIMESTAMP_NTZ'2024-01-01 00:00:00' AS ntz,
                  DATE'2024-01-01' + CAST(id AS INT) AS d,
                  CAST(CAST(id AS STRING) AS BINARY) AS bin,
                  array(id, id + 1) AS arr,
                  map('k', id) AS mp,
                  named_struct('a', id, 'b', named_struct('c', 'x')) AS st
           FROM range(40)"""
    ).withColumn("note", F.col("k").alias("note", metadata={"comment": "hi"}))
    t = str(tmp_path / "tbl")
    snap.commit(spark, df.where("k < 20"), t)
    snap.commit(spark, df.where("k >= 20"), t)
    snap.update_where(spark, t, "k < 5", {"dec": "dec * 2", "sh": "sh + 1"})
    snap.delete_where(spark, t, "k = 39")
    snap.merge_upsert(spark, df.where("k IN (1, 50)"), t, keys=["k"])
    snap.replace_where(spark, df.where("k = 7"), t, "k = 7")
    for v in range(snap.current_version(t) + 1):
        m = snap._load_manifest(t, v, snap._POSIX)
        assert m.get("uniform") is True, v
        got = snap.read_snapshot(spark, t, v).schema
        assert got == _footer_schema(spark, t, m["dirs"]), v
        assert got.fields[-1].metadata == {"comment": "hi"}
        if "change_schema" in m:
            chg = snap._stored_schema({"schema": m["change_schema"]})
            assert chg == _footer_schema(spark, t, [m["change_dir"]]), v


def test_legacy_and_evolved_manifests_still_infer(spark, tmp_path):
    """Without the marker a plain read infers from the footer: a legacy
    manifest (no ``uniform``) ignores even a wrong recorded schema, and
    a schema-evolving append leaves the marker off."""
    import json

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    t = str(tmp_path / "tbl")
    snap.commit(spark, docs.where(F.col("doc_id") < 30), t)
    path = snap._manifest_path(t, 0)
    m = json.loads(open(path).read())
    assert m["uniform"] is True
    # a recorded schema that disagrees with the files: honored only
    # under the marker, so dropping the marker must fall back to footers
    m["schema"]["fields"] = m["schema"]["fields"][:1]
    del m["uniform"]
    with open(path, "w") as fh:
        json.dump(m, fh)
    before = _jobs(spark)
    legacy = snap.read_snapshot(spark, t, 0)
    assert _jobs(spark) > before  # footer inference ran
    assert legacy.columns == ["doc_id", "source"]

    t2 = str(tmp_path / "evolved")
    snap.commit(spark, docs.where(F.col("doc_id") < 30), t2)
    v1 = snap.commit(
        spark,
        docs.where(F.col("doc_id") >= 30).withColumn("grade", F.lit(1)),
        t2,
    )
    m1 = snap._load_manifest(t2, v1, snap._POSIX)
    assert "uniform" not in m1
    plain = snap.read_snapshot(spark, t2, v1)
    assert plain.schema == _footer_schema(spark, t2, m1["dirs"])
    # a later same-schema append cannot re-earn the marker: the evolved
    # table's old dirs still lack the new column
    v2 = snap.commit(
        spark,
        docs.where(F.col("doc_id") < 3).withColumn("grade", F.lit(2)),
        t2,
    )
    assert "uniform" not in snap._load_manifest(t2, v2, snap._POSIX)
    # restore and clone re-reference dirs they did not write: no marker
    vr = snap.restore_table(spark, t2, 0)
    assert "uniform" not in snap._load_manifest(t2, vr, snap._POSIX)
    dst = str(tmp_path / "clone")
    snap.clone_table(spark, t2, dst, version=0)
    assert "uniform" not in snap._load_manifest(dst, 0, snap._POSIX)


def test_update_where_casts_set_results_to_column_type(spark, tmp_path):
    """A SET expression whose type differs from the column (SMALLINT *
    1.5 is a DECIMAL) is cast to the column type, so every rewritten
    directory's footer schema equals the manifest schema and the merged
    read returns the cast values; an ANSI cast overflow raises and
    publishes nothing."""
    t = str(tmp_path / "tbl")
    df = spark.range(200).select(
        F.col("id"), ((F.col("id") * 7) % 101).cast("smallint").alias("sh")
    )
    snap.commit(spark, df.where("id < 100"), t)
    snap.commit(spark, df.where("id >= 100"), t)
    v = snap.update_where(spark, t, "id < 10", {"sh": "sh * 1.5"})
    vals = [(i * 7) % 101 for i in range(200)]
    want = sum(int(s * 1.5) if i < 10 else s for i, s in enumerate(vals))
    got = snap.read_snapshot(spark, t, v, merge_schema=True)
    assert got.agg(F.sum("sh")).collect()[0][0] == want
    m = snap._load_manifest(t, v, snap._POSIX)
    recorded = snap._stored_schema(m)
    for d in m["dirs"]:
        assert _footer_schema(spark, t, [d]) == recorded, d
    assert snap.read_snapshot(spark, t, v).agg(F.sum("sh")).collect()[0][0] == want

    with pytest.raises(Exception, match="CAST_OVERFLOW|overflow"):
        snap.update_where(spark, t, "id < 10", {"sh": "sh * 100000"})
    assert snap.current_version(t) == v


def test_replace_where_rejects_mistyped_frame(spark, tmp_path):
    """replace_where refuses a frame whose column names match but whose
    types differ from the table's — its directory would drift from the
    manifest schema."""
    t = str(tmp_path / "tbl")
    df = spark.range(20).select(F.col("id"), F.col("id").cast("int").alias("v"))
    snap.commit(spark, df, t)
    bad = df.where("id < 5").withColumn("v", F.col("v").cast("double"))
    with pytest.raises(ValueError, match="types differ"):
        snap.replace_where(spark, bad, t, "id < 5")
    assert snap.current_version(t) == 0
    ok = snap.replace_where(spark, df.where("id < 5"), t, "id < 5")
    assert snap.read_snapshot(spark, t, ok).count() == 20


def test_overlap_writes_waits_for_siblings_and_raises_earliest():
    """All sibling writes finish before the raise; the earliest failure
    in input order is raised with the later ones attached as notes."""
    import threading
    import time

    done = threading.Event()

    def slow_fail():
        time.sleep(0.3)
        done.set()
        raise RuntimeError("late sibling")

    def fast_fail():
        raise KeyError("first in order")

    with pytest.raises(KeyError) as ei:
        snap._overlap_writes([lambda: 1, fast_fail, slow_fail])
    assert done.is_set()
    assert any("late sibling" in n for n in ei.value.__notes__)
    assert snap._overlap_writes([lambda: 1, lambda: 2]) == [1, 2]


def test_overlapped_writes_keep_the_callers_job_group(spark, tmp_path):
    """Every job a rewrite commit starts, the pooled writes included,
    carries the caller's job group, so cancelJobGroup reaches them."""
    t = str(tmp_path / "tbl")
    base = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    for i in range(2):
        snap.commit(spark, base.where(F.col("k") % 2 == i), t)
    upserts = base.where("k < 20").withColumn("v", F.col("v") + 100)
    sc = spark.sparkContext
    sc.setJobGroup("overlap-group", "merge under a job group")
    try:
        before = _jobs(spark)
        snap.merge_upsert(spark, upserts, t, keys=["k"])
        started = _jobs(spark) - before
    finally:
        sc._jsc.clearJobGroup()
    assert started > 0
    grouped = sc.statusTracker().getJobIdsForGroup("overlap-group")
    assert len(grouped) == started


def test_failed_rewrite_write_publishes_nothing_and_vacuum_sweeps(
    spark, tmp_path, monkeypatch
):
    """Fault injection: when one write of a rewrite commit raises, no
    manifest is published, the sibling write that landed is an orphan,
    and vacuum removes it."""
    t = str(tmp_path / "tbl")
    snap.commit(spark, spark.range(50).withColumnRenamed("id", "k"), t)
    real = snap._write_data_dir

    def failing(df, table_path, cols):
        real(df, table_path, cols)  # lands, then the thunk fails
        raise OSError("injected write failure")

    monkeypatch.setattr(snap, "_write_data_dir", failing)
    with pytest.raises(OSError, match="injected"):
        snap.delete_where(spark, t, "k < 10")
    monkeypatch.setattr(snap, "_write_data_dir", real)
    assert snap.current_version(t) == 0
    data = os.listdir(os.path.join(t, "data"))
    changes = os.listdir(os.path.join(t, "_changes"))
    assert len(data) == 2 and len(changes) == 1  # orphans on disk
    removed = snap.vacuum(t)
    assert len(removed) == 2
    assert os.listdir(os.path.join(t, "data")) == snap._load_manifest(
        t, 0, snap._POSIX
    )["dirs"][0].split("/")[1:]
    assert os.listdir(os.path.join(t, "_changes")) == []
    assert snap.read_snapshot(spark, t).count() == 50


def test_optimize_sizing_matches_metadata_aggregate(spark, tmp_path):
    """The file-index sizing equals the old ``_metadata`` aggregate
    (distinct files, summed file sizes) and runs no Spark job."""
    t = str(tmp_path / "tbl")
    df = spark.range(300).select(F.col("id"), (F.col("id") * 3).alias("v"))
    for i in range(3):
        snap.commit(spark, df.where(F.col("id") % 3 == i).repartition(2), t)
    scan = snap.read_snapshot(spark, t, merge_schema=True)
    before = _jobs(spark)
    n_files, total = snap._scan_size(scan)
    assert _jobs(spark) == before
    old = (
        scan.groupBy(F.col("_metadata.file_path").alias("fp"))
        .agg(F.first(F.col("_metadata.file_size")).alias("sz"))
        .agg(F.count(F.lit(1)), F.sum("sz"))
        .collect()[0]
    )
    assert (n_files, total) == (old[0], old[1])
    assert n_files == 6


def test_every_verb_publishes_its_manifest_shape(spark, tmp_path):
    """One manifest per verb on a 4-directory table: its key set, op,
    ``uniform`` marker and recorded schema, and stats only for
    directories it references — the format every later field extends."""
    t, dst = str(tmp_path / "tbl"), str(tmp_path / "clone")
    base = spark.range(400).select(
        F.col("id").alias("k"),
        (F.col("id") * 7 % 1000).alias("cents"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("tag"),
    )
    for i in range(4):
        snap.commit(spark, base.where(F.col("k") % 4 == i), t,
                    stats_cols=["k"])
    snap.add_constraint(spark, t, "nonneg", "cents >= 0")
    snap.merge_upsert(spark, base.where("k < 30"), t, keys=["k"])
    snap.update_where(spark, t, "k < 10", {"cents": "cents + 5"})
    snap.delete_where(spark, t, "k > 390")
    snap.replace_where(
        spark, base.where("k BETWEEN 100 AND 120"), t,
        "k BETWEEN 100 AND 120",
    )
    snap.optimize_table(spark, t, target_file_bytes=1 << 30)
    snap.optimize_table(spark, t, zorder_by=["k", "cents"], zorder_buckets=4)
    snap.drop_constraint(spark, t, "nonneg")
    snap.restore_table(spark, t, 3)
    snap.commit(spark, base.where("k < 50"), t, mode="overwrite")
    snap.clone_table(spark, t, dst, version=3)

    core = {"version", "parent", "op", "dirs", "ts_us", "schema"}
    stats, uniform, cons = {"stats"}, {"uniform"}, {"constraints"}
    chg = {"change_dir", "change_schema"}
    rewrite = core | stats | uniform | cons | chg
    want = [
        ("append", core | stats | uniform),
        ("append", core | stats | uniform),
        ("append", core | stats | uniform),
        ("append", core | stats | uniform),
        ("add_constraint", core | stats | uniform | cons),
        ("merge", rewrite),
        ("update", rewrite),
        ("delete", rewrite),
        ("replace_where", rewrite),
        ("replace", core | stats | uniform | cons),
        ("replace", core | stats | uniform | cons),
        ("drop_constraint", core | stats | uniform),
        ("restore", core | stats | {"restored_from"}),
        ("overwrite", core | uniform),
    ]
    got = [snap._load_manifest(t, v, snap._POSIX) for v in range(len(want))]
    got.append(snap._load_manifest(dst, 0, snap._POSIX))
    want.append(("clone", core | stats | {"cloned_from", "clone_version"}))
    assert snap.current_version(t) == len(want) - 2
    for v, (m, (op, keys)) in enumerate(zip(got, want)):
        assert m["op"] == op, v
        assert set(m) == keys, (v, op, sorted(set(m) ^ keys))
        assert m.get("uniform", False) is ("uniform" in keys), v
        assert set(m.get("stats", {})) <= set(m["dirs"]), (v, op)
        assert snap._stored_schema(m).fieldNames() == ["k", "cents", "tag"]


def test_rewrite_verbs_job_budget(spark, tmp_path):
    """Each copy-on-write verb on a 4-directory table runs at most its
    pinned number of Spark jobs, so a refactor cannot add a job
    silently."""
    t = str(tmp_path / "tbl")
    base = spark.range(2000).select(
        F.col("id").alias("k"),
        (F.col("id") * 7 % 1000).alias("cents"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("tag"),
    )
    for i in range(4):
        snap.commit(spark, base.where(F.col("k") % 4 == i), t,
                    stats_cols=["k"])
    upserts = base.where("k < 50").unionByName(
        spark.range(2000, 2050).select(
            F.col("id").alias("k"), F.lit(5).cast("long").alias("cents"),
            F.lit("n").alias("tag"),
        )
    )
    cdc = base.where("k BETWEEN 100 AND 140").withColumn(
        "op", F.when(F.col("k") % 2 == 0, "D").otherwise("U")
    )
    reload = base.where("k BETWEEN 500 AND 520")
    budget = [
        ("merge", 11, lambda: snap.merge_upsert(
            spark, upserts, t, keys=["k"])),
        ("merge with tombstones", 13, lambda: snap.merge_upsert(
            spark, cdc, t, keys=["k"], delete_condition="op = 'D'",
            source_meta_cols=["op"])),
        ("update", 6, lambda: snap.update_where(
            spark, t, "k < 30", {"cents": "cents + 500"})),
        ("delete", 5, lambda: snap.delete_where(spark, t, "k > 1900")),
        ("delete matching nothing", 2, lambda: snap.delete_where(
            spark, t, "k < 0")),
        ("replace_where", 7, lambda: snap.replace_where(
            spark, reload, t, "k BETWEEN 500 AND 520")),
    ]
    for name, most, verb in budget:
        before = _jobs(spark)
        verb()
        assert _jobs(spark) - before <= most, name
    assert snap.current_version(t) == 3 + len(budget)
