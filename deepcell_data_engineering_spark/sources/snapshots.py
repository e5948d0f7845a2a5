"""Manifest-based snapshot versioning over parquet — time travel.

The lakehouse pattern (Delta/Iceberg's core) reduced to its invariant:
a table is a LOG OF MANIFESTS, each a tiny JSON naming the immutable
data directories that make up one version. Writers add data under a
fresh per-commit directory and publish the manifest LAST (write-then-
rename), so a concurrent reader either sees the previous version or
the complete new one — never a half-written table. Readers resolve a
version number to a file list on the driver (the manifest is KB-sized
catalog state, the one thing that SHOULD be driver-side) and scan the
data distributed as usual.

What this buys at 100 TB:
- append = write only the delta's files + one manifest; no rewrite of
  history, no read-modify-write of data.
- time travel = read any retained manifest; reproducing last week's
  training set is a pointer lookup, not a restore.
- compaction commits (op='replace') swap small files for big ones
  WITHOUT changing content: old versions keep referencing the old
  directories, so a long-running job pinned to v3 is undisturbed.
- vacuum deletes only directories unreferenced by every retained
  manifest — physical cleanup decoupled from logical history.

Reference analog: the reference tracks dataset builds by overwriting
NPZ artifacts keyed by filename (caliban_toolbox/build_utils.py's
combined-NPZ convention) — no history, no atomicity; this module is
the warehouse-grade replacement for that pointer-by-filename scheme.

Concurrency: manifests are published with a PUT-IF-ABSENT primitive
(``ManifestStore.put_if_absent``). A writer that loses the race
re-reads the new parent and retries against the next version, so no
MANIFEST is ever silently overwritten — the Delta/Iceberg optimistic-
concurrency loop. ``SnapshotConflictError`` surfaces only after the
retry budget is exhausted. Blind retry is only sound for APPENDS
(order-independent); rewrites that derived their content FROM a
snapshot (overwrite/replace — compaction, SCD2 rebuilds) must pass
``expected_parent`` so a concurrent commit in the read→publish window
raises instead of silently dropping the interloper's rows from the
new head — the Delta OPTIMIZE conflict-detection rule. Time travel
would still recover the rows, but the head must never lose them
silently. ``optimize_table`` threads this automatically.

Manifest substrate: all log I/O goes through a ``ManifestStore`` —
``PosixManifestStore`` (default) publishes via ``os.link`` from a
fully-written temp file (atomic, EEXIST on conflict) and requires a
driver-visible POSIX path; ``InMemoryManifestStore`` models an object
store's conditional PUT (``If-None-Match: *``) for tests and as the
template for a real S3/GCS-conditional-put implementation. Data files
always go through Spark's Hadoop FS as usual — only the KB-sized log
needs the conditional-put primitive. ``vacuum``'s physical deletion of
data directories is POSIX-only (the data plane, not the log).

Log compaction: every ``_CHECKPOINT_INTERVAL`` commits a checkpoint
file folds the batch-id dedup set, so exactly-once replay checks read
O(interval) manifests instead of O(versions) — the Delta
``_last_checkpoint`` pattern.

Manifest fields that answer metadata questions without a Spark job:
- ``schema``: the table schema (the union across evolution, every
  field nullable). Reads with ``merge_schema=True`` and the CRUD verbs'
  basis scans use it in place of the footer-union pass.
- ``uniform``: present (true) only when EVERY directory the version
  references was written with exactly ``schema``, in the same field
  order — derived from the frames the commit actually wrote, and kept
  across commits only while the parent was uniform with the same
  schema. Plain reads (``read_snapshot``, ``scan_snapshot`` and the
  append/overwrite pieces of ``read_changes``) then pass ``schema``
  instead of inferring it from a parquet footer. Rebased commits,
  restore, clone, schema-evolving appends and logs written before the
  marker existed leave it off, and their plain reads infer as before.
- ``change_schema``: the written schema of a merge/delete/update/
  replace_where change-set directory (``change_dir``); ``read_changes``
  reads that piece with it.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"
_CHECKPOINT_INTERVAL = 10
_COMMIT_RETRIES = 64
_UNSET = object()  # sentinel: expected_parent=None means "expect empty table"
# MERGE broadcasts its delta-sized key sets into the table-side joins
# when the pinned source holds at most this many rows (narrow key
# tuples: ~24 B/row -> ~50 MB at the cap). Above it the joins fall
# back to shuffle — the same size cutover Delta's merge uses. The pin
# job's Observation supplies the exact count for free, so the decision
# costs no extra action.
_MERGE_BROADCAST_MAX_ROWS = 2_000_000


class ConstraintViolationError(RuntimeError):
    """A commit's data violates a table CHECK constraint."""


class SnapshotConflictError(RuntimeError):
    """A concurrent writer invalidated this commit (or kept winning
    the manifest publish race past the retry budget)."""


class ManifestStore:
    """Put-if-absent key-value substrate for the manifest log.

    The entire lakehouse concurrency story reduces to ONE primitive:
    publish these bytes at this key unless the key exists. POSIX gives
    it via link(2); object stores via conditional PUT. Everything else
    (get/list/delete) is plain catalog I/O."""

    def check_path(self, table_path: str) -> None:
        """Raise if this store cannot serve ``table_path``."""

    def put_if_absent(self, path: str, data: bytes) -> bool:
        """Atomically publish ``data`` at ``path``; False if taken."""
        raise NotImplementedError

    def get(self, path: str) -> bytes | None:
        raise NotImplementedError

    def listdir(self, dirpath: str) -> list[str]:
        """Names (not paths) under ``dirpath``; [] if absent."""
        raise NotImplementedError

    def delete(self, path: str) -> None:
        raise NotImplementedError


class PosixManifestStore(ManifestStore):
    """Default store: driver-visible POSIX filesystem. put-if-absent =
    write a temp file fully, then ``os.link`` to the final name —
    atomic, fails EEXIST if the version was taken, and a reader never
    observes a partially-written manifest."""

    def check_path(self, table_path: str) -> None:
        if "://" in table_path:
            raise ValueError(
                "PosixManifestStore requires a driver-visible POSIX "
                f"path; got {table_path!r} — for object-store logs "
                "pass a ManifestStore with a conditional-put primitive"
            )

    def put_if_absent(self, path: str, data: bytes) -> bool:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "wb") as fh:
            fh.write(data)
        try:
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def get(self, path: str) -> bytes | None:
        try:
            with open(path, "rb") as fh:
                return fh.read()
        except FileNotFoundError:
            return None

    def listdir(self, dirpath: str) -> list[str]:
        try:
            return os.listdir(dirpath)
        except FileNotFoundError:
            return []

    def delete(self, path: str) -> None:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass


class InMemoryManifestStore(ManifestStore):
    """Object-store model for tests: a dict guarded by a lock, with
    conditional-PUT semantics (S3 ``If-None-Match: *`` / GCS
    ``ifGenerationMatch=0``). A real S3 implementation replaces the
    dict operations with the corresponding conditional requests; the
    commit protocol above needs nothing else."""

    def __init__(self) -> None:
        self._objects: dict[str, bytes] = {}
        self._lock = threading.Lock()

    def put_if_absent(self, path: str, data: bytes) -> bool:
        with self._lock:
            if path in self._objects:
                return False
            self._objects[path] = data
            return True

    def get(self, path: str) -> bytes | None:
        with self._lock:
            return self._objects.get(path)

    def listdir(self, dirpath: str) -> list[str]:
        # direct children plus "directory" names derived from deeper
        # keys — the CommonPrefixes a delimiter'd object-store listing
        # returns, and what os.listdir gives on POSIX
        prefix = dirpath.rstrip("/") + "/"
        names: set[str] = set()
        with self._lock:
            for k in self._objects:
                if k.startswith(prefix):
                    names.add(k[len(prefix):].split("/", 1)[0])
        return sorted(names)

    def delete(self, path: str) -> None:
        with self._lock:
            self._objects.pop(path, None)


class S3ManifestStore(ManifestStore):
    """Manifest log on S3 (or any S3-compatible store honoring
    conditional writes: GCS XML API, MinIO, R2). put-if-absent =
    ``PutObject`` with ``If-None-Match: *`` — the server rejects the
    write with **412 PreconditionFailed** when the key already exists,
    which is exactly the one primitive the commit protocol needs (AWS
    S3 ships this since 2024-08; Delta's S3 "conditional-put" LogStore
    uses the same request). A **409 ConditionalRequestConflict** (a
    concurrent conditional write on the same key is in flight) is also
    treated as "taken": the committer re-reads the head and retries,
    which is correct whether or not the rival's write ultimately
    landed.

    Only the MANIFEST plane goes through this store; data directories
    are written by Spark through whatever filesystem serves
    ``table_path``. Keys are ``key_prefix + path.lstrip('/')`` so a
    driver-local table path maps to a stable bucket layout.
    """

    def __init__(self, client, bucket: str, key_prefix: str = "") -> None:
        self._c = client
        self._bucket = bucket
        self._prefix = key_prefix

    def _key(self, path: str) -> str:
        return self._prefix + path.lstrip("/")

    @staticmethod
    def _err_code(exc) -> str:
        return getattr(exc, "response", {}).get("Error", {}).get("Code", "")

    def put_if_absent(self, path: str, data: bytes) -> bool:
        from botocore.exceptions import ClientError

        try:
            self._c.put_object(
                Bucket=self._bucket,
                Key=self._key(path),
                Body=data,
                IfNoneMatch="*",
            )
            return True
        except ClientError as e:
            if self._err_code(e) in (
                "PreconditionFailed",
                "ConditionalRequestConflict",
            ):
                return False
            raise

    def get(self, path: str) -> bytes | None:
        from botocore.exceptions import ClientError

        try:
            resp = self._c.get_object(
                Bucket=self._bucket, Key=self._key(path)
            )
            return resp["Body"].read()
        except ClientError as e:
            if self._err_code(e) in ("NoSuchKey", "404"):
                return None
            raise

    def listdir(self, dirpath: str) -> list[str]:
        prefix = self._key(dirpath).rstrip("/") + "/"
        names: list[str] = []
        token: str | None = None
        while True:
            kwargs = {
                "Bucket": self._bucket,
                "Prefix": prefix,
                "Delimiter": "/",
            }
            if token:
                kwargs["ContinuationToken"] = token
            resp = self._c.list_objects_v2(**kwargs)
            names.extend(
                c["Key"][len(prefix):]
                for c in resp.get("Contents", [])
                if c["Key"] != prefix
            )
            # "directories": the delimiter'd listing's CommonPrefixes,
            # name-stripped like POSIX listdir returns subdir names
            names.extend(
                p["Prefix"][len(prefix):].rstrip("/")
                for p in resp.get("CommonPrefixes", [])
            )
            if not resp.get("IsTruncated"):
                return names
            token = resp.get("NextContinuationToken")

    def delete(self, path: str) -> None:
        self._c.delete_object(Bucket=self._bucket, Key=self._key(path))


_POSIX = PosixManifestStore()


def _store(store: ManifestStore | None) -> ManifestStore:
    return store if store is not None else _POSIX


def _manifest_path(table_path: str, version: int) -> str:
    return os.path.join(
        table_path, _MANIFEST_DIR, f"v{version:06d}.json"
    )


def _checkpoint_path(table_path: str, version: int) -> str:
    # 'ckpt-' prefix keeps checkpoints out of current_version's
    # v*.json listing filter.
    return os.path.join(
        table_path, _MANIFEST_DIR, f"ckpt-v{version:06d}.json"
    )


def _latest_checkpoint(
    table_path: str, upto: int, store: ManifestStore
) -> dict | None:
    """Newest checkpoint at or below ``upto``, or None."""
    best = -1
    for f in store.listdir(os.path.join(table_path, _MANIFEST_DIR)):
        if f.startswith("ckpt-v") and f.endswith(".json"):
            v = int(f[6:12])
            if best < v <= upto:
                best = v
    if best < 0:
        return None
    raw = store.get(_checkpoint_path(table_path, best))
    return json.loads(raw) if raw is not None else None


def _batch_id_seen(
    table_path: str, parent: int, batch_id: int, store: ManifestStore
) -> int | None:
    """Version whose manifest carries ``batch_id``, scanning backward
    only to the nearest checkpoint (whose folded set covers the rest).
    O(checkpoint interval) manifest reads, not O(versions)."""
    ckpt = _latest_checkpoint(table_path, parent, store)
    floor = ckpt["version"] + 1 if ckpt else 0
    for v in range(floor, parent + 1):
        try:
            m = _load_manifest(table_path, v, store)
        except ManifestMissingError:
            continue
        if m.get("batch_id") == batch_id:
            return v
    if ckpt is not None:
        hit = ckpt["batch_ids"].get(str(batch_id))
        if hit is not None:
            return hit
    return None


def _write_checkpoint(
    table_path: str, version: int, store: ManifestStore
) -> None:
    """Fold the batch-id set up to ``version`` into a checkpoint file.

    Best-effort (a lost checkpoint only costs extra manifest reads);
    published via the same put-if-absent primitive so concurrent
    checkpointers of the same version are harmless."""
    prev = _latest_checkpoint(table_path, version, store)
    batch_ids: dict[str, int] = dict(prev["batch_ids"]) if prev else {}
    start = prev["version"] + 1 if prev else 0
    for v in range(start, version + 1):
        try:
            m = _load_manifest(table_path, v, store)
        except ManifestMissingError:
            continue
        if "batch_id" in m:
            batch_ids[str(m["batch_id"])] = v
    ckpt = {"version": version, "batch_ids": batch_ids}
    store.put_if_absent(
        _checkpoint_path(table_path, version),
        json.dumps(ckpt).encode(),
    )


def current_version(
    table_path: str, store: ManifestStore | None = None
) -> int | None:
    """Latest committed version, or None for an empty/absent table."""
    st = _store(store)
    st.check_path(table_path)
    versions = [
        int(f[1:7])
        for f in st.listdir(os.path.join(table_path, _MANIFEST_DIR))
        if f.startswith("v") and f.endswith(".json")
    ]
    return max(versions) if versions else None


def _resolve_version(
    table_path: str, st: ManifestStore, version: int | None = None,
    timestamp=None,
) -> int:
    """``version``; else TIMESTAMP AS OF ``timestamp`` (exclusive with
    ``version``); else the head, raising on a table with no commits."""
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass either version or timestamp, not both")
        return version_at_timestamp(table_path, timestamp, st)
    if version is None:
        version = current_version(table_path, st)
        if version is None:
            raise ValueError(f"no committed versions at {table_path!r}")
    return version


class ManifestMissingError(ValueError):
    """The manifest for a version is absent (never committed, or
    vacuumed). Distinct from a CORRUPT manifest: ``json.loads`` errors
    propagate unwrapped, so a truncated/garbled manifest fails loudly
    instead of being silently treated as vacuumed — a corrupt manifest
    swallowed by the batch-id dedup scan would let a replayed
    streaming batch commit twice."""


def _load_manifest(
    table_path: str, version: int, store: ManifestStore
) -> dict:
    raw = store.get(_manifest_path(table_path, version))
    if raw is None:
        raise ManifestMissingError(
            f"version {version} does not exist (or was vacuumed) at "
            f"{table_path!r}"
        )
    return json.loads(raw)


def _as_nullable(dt):
    """Recursively mark every field/element nullable — the shape a
    parquet read reports (Spark treats parquet fields as nullable), so
    a manifest-recorded schema matches what a footer-union read would
    have returned."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            _as_nullable(dt.keyType), _as_nullable(dt.valueType), True
        )
    return dt


def _merge_schemas(a, b):
    """Union of two (nullable-normalized) StructTypes in parquet
    mergeSchema field order: ``a``'s fields, then ``b``'s new ones.
    Returns None on any same-name type mismatch — the caller then
    records NO schema and readers fall back to the footer-union read
    (never wrong, just slower)."""
    from pyspark.sql.types import StructType

    fields = list(a.fields)
    idx = {f.name: i for i, f in enumerate(fields)}
    for f in b.fields:
        if f.name in idx:
            if fields[idx[f.name]].dataType != f.dataType:
                return None
        else:
            fields.append(f)
    return StructType(fields)


def _stored_schema(manifest: dict):
    """The manifest-recorded table schema (Delta's schemaString idea),
    or None for logs written before schemas were recorded / commits
    whose schema merge was not type-clean."""
    from pyspark.sql.types import StructType

    js = manifest.get("schema")
    if not js:
        return None
    try:
        return StructType.fromJson(js)
    except Exception:
        return None


def _is_uniform(sch, dirs: list[str], fresh: dict | None, parent_m: dict) -> bool:
    """Whether every directory in ``dirs`` provably holds exactly the
    schema ``sch``: each fresh directory was written from a frame whose
    (nullable-normalized) schema equals it field for field, in order,
    and every other directory is carried from a ``uniform`` parent that
    recorded the same schema. ``fresh=None`` (dirs re-referenced from
    elsewhere) proves nothing."""
    if fresh is None or any(_as_nullable(s) != sch for s in fresh.values()):
        return False
    carried = [d for d in dirs if d not in fresh]
    return not carried or (
        bool(parent_m.get("uniform"))
        and _stored_schema(parent_m) == sch
        and set(carried) <= set(parent_m["dirs"])
    )


def _snapshot_reader(spark: SparkSession, manifest: dict, merge_schema: bool):
    """Reader for a snapshot's directories. With ``merge_schema`` the
    manifest-recorded schema (when present) replaces the footer-union
    pass — identical union semantics (missing columns NULL-pad, field
    order = parent-then-evolved, everything nullable) with ZERO schema
    jobs; at 100 TB the footer-union read touches every file of the
    table per CRUD op, which this removes. Logs without a recorded
    schema keep the footer-union read. Without ``merge_schema`` the
    recorded schema is passed only when the manifest is ``uniform``
    (every directory was written with exactly it, so a footer read
    would return the same schema); otherwise Spark infers it from a
    footer as before."""
    reader = spark.read
    sch = _stored_schema(manifest)
    if sch is not None and (merge_schema or manifest.get("uniform")):
        return reader.schema(sch)
    if merge_schema:
        return reader.option("mergeSchema", "true")
    return reader


def _tracked_stat_cols(manifest: dict) -> list[str]:
    """Columns the parent manifest tracks data-skipping stats for."""
    return sorted(
        {c for s in manifest.get("stats", {}).values() for c in s}
    )


def _write_parquet_with_ranges(
    df: DataFrame, out_dir: str, cols: list[str]
) -> dict[str, list]:
    """Write ``df`` as parquet and return [min, max] per named column,
    computed IN the write job via ``Observation`` (CollectMetrics) —
    one pass over the data instead of write-then-read-back. At 100 TB a
    rewrite's stats read-back is a second full scan of everything just
    written; here the scan disappears (guide: measure once, don't
    recompute what the write already streamed past).

    The ranges are the min/max of exactly the rows written, through
    the same JSON-stable scalar filter as every other stats producer
    (:func:`_ranges_of`). When a requested column cannot be aggregated
    (missing after schema evolution, unorderable type) the dir is
    written without stats: the caller gets ``{}`` — unprunable, never
    wrong."""
    if not cols:
        df.write.parquet(out_dir)
        return {}
    from pyspark.sql import Observation

    obs = Observation()
    try:
        observed = df.observe(obs, *_range_aggs(cols))
        observed.schema  # force analysis: bad column -> fall back
    except Exception:
        df.write.parquet(out_dir)
        return {}
    observed.write.parquet(out_dir)
    return _ranges_of(obs.get, cols)


def _range_aggs(cols: list[str]) -> list:
    """min/max aggregates per column, aliased for :func:`_ranges_of`."""
    return [
        agg
        for c in cols
        for agg in (F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}"))
    ]


def _ranges_of(row, cols: list[str]) -> dict[str, list]:
    """[min, max] per column from a row of :func:`_range_aggs`, keeping
    only JSON-stable scalars (int/float/str/bool). A column that is
    all-NULL or non-scalar is omitted — omission disables pruning on
    it, never correctness."""
    scalar = (int, float, str, bool)
    out: dict[str, list] = {}
    for c in cols:
        lo, hi = row[f"_lo_{c}"], row[f"_hi_{c}"]
        if isinstance(lo, scalar) and isinstance(hi, scalar):
            out[c] = [lo, hi]
    return out


def _write_data_dir(
    df: DataFrame, table_path: str, cols: list[str]
) -> tuple[str, dict[str, list]]:
    """Write ``df`` under a fresh uuid data directory with fused
    range stats; returns (table-relative dir, ranges)."""
    out_dir = os.path.join(
        table_path, _DATA_DIR, f"c{uuid.uuid4().hex[:12]}"
    )
    ranges = _write_parquet_with_ranges(df, out_dir, cols)
    return os.path.relpath(out_dir, table_path), ranges


def _stats_cmp_key(v):
    """Order strings the way SPARK ordered them when it computed the
    stats bounds: UTF-8 byte order. Python's ``str`` comparison is
    code-point order — identical for BMP text but DIVERGENT above it
    (U+FFFF sorts after U+10000 in code points, before it in UTF-8
    bytes), so comparing Spark-computed string bounds with Python
    ``<``/``>`` could prune a directory that contains a match.
    Non-strings (int/float/bool) order identically in both systems."""
    return v.encode("utf-8") if isinstance(v, str) else v


def _prune_dirs(manifest: dict, ranges: dict[str, tuple]) -> list[str]:
    """Directories of ``manifest`` that could contain a row matching
    every ``col: (lo, hi)`` bound (None = unbounded on that side).
    Pure interval intersection over the manifest's recorded stats;
    a dir with no stats for a bounded column is KEPT (unprunable).
    String bounds compare in UTF-8 byte order to match the Spark
    min/max that produced them (see ``_stats_cmp_key``)."""
    kept = []
    for d in manifest["dirs"]:
        st = manifest.get("stats", {}).get(d, {})
        keep = True
        for col, (lo, hi) in ranges.items():
            if col not in st:
                continue
            dlo = _stats_cmp_key(st[col][0])
            dhi = _stats_cmp_key(st[col][1])
            klo = _stats_cmp_key(lo)
            khi = _stats_cmp_key(hi)
            if (khi is not None and dlo > khi) or (
                klo is not None and dhi < klo
            ):
                keep = False
                break
        if keep:
            kept.append(d)
    return kept


def scan_snapshot(
    spark: SparkSession,
    table_path: str,
    ranges: dict[str, tuple],
    version: int | None = None,
    merge_schema: bool = False,
    store: ManifestStore | None = None,
) -> DataFrame:
    """Read a snapshot version scanning ONLY the directories whose
    recorded [min, max] stats can intersect every ``col: (lo, hi)``
    bound — manifest-level data skipping (the Delta/Iceberg stats-
    pruning idea at this log's directory granularity). KB of manifest
    JSON decide which TB of parquet are touched; directories without
    stats are read (safe). This is an OPTIMIZATION contract, not a
    filter: rows outside the bounds may still be returned (from dirs
    whose range merely overlaps), so apply the actual predicate on
    the result exactly as with parquet row-group skipping. Returns an
    empty frame with the table's schema when every directory prunes.

    ``merge_schema``: threaded to the kept-dirs read exactly as in
    :func:`read_snapshot`, so under cross-commit schema evolution the
    result schema does not depend on WHICH directories survived
    pruning (the full-prune branch already returns the merged
    ``read_snapshot`` schema)."""
    st = _store(store)
    st.check_path(table_path)
    version = _resolve_version(table_path, st, version)
    manifest = _load_manifest(table_path, version, st)
    kept = _prune_dirs(manifest, ranges)
    if not kept:
        return read_snapshot(
            spark, table_path, version, merge_schema=merge_schema, store=st
        ).limit(0)
    return _snapshot_reader(spark, manifest, merge_schema).parquet(
        *[os.path.join(table_path, d) for d in kept]
    )


def commit(
    spark: SparkSession,
    df: DataFrame | None,
    table_path: str,
    mode: str = "append",
    batch_id: int | None = None,
    expected_parent: int | None | object = _UNSET,
    store: ManifestStore | None = None,
    stats_cols: list[str] | None = None,
    check_constraints: dict[str, str] | None = None,
    _op: str | None = None,
    _dirs: list[str] | None = None,
    _extra_manifest: dict | None = None,
    _dir_stats: dict[str, dict] | None = None,
    _drop_constraints: list[str] | None = None,
    _rebase: bool = False,
    _ts_us: int | None = None,
    _schema=None,
    _written: dict | None = None,
) -> int:
    """Write ``df`` as a new table version and return its number.

    ``mode='append'``: the new version references every parent data
    directory plus this commit's. ``mode='overwrite'``: references only
    this commit's (logical truncate-and-load; old data stays on disk
    for time travel until vacuumed). ``mode='replace'``: like
    overwrite, but marks the commit as a content-preserving rewrite
    (compaction) — semantics identical, the op label documents intent
    in the log.

    Data lands under a fresh uuid directory, the manifest is published
    put-if-absent into the log — readers never observe a version whose
    data is incomplete.

    ``batch_id``: the exactly-once hook for streaming foreachBatch
    sinks. A commit whose batch_id already appears in a retained
    manifest is a NO-OP returning that manifest's version — replaying
    a micro-batch after a failed epoch cannot double its rows. (The
    dedup window is the retained manifest log; production systems keep
    the txn log's retention independent of data vacuuming. Checkpoints
    fold the seen set, so the check reads O(interval) manifests.)

    ``expected_parent``: optimistic-concurrency guard for commits whose
    CONTENT was derived from a snapshot read. Pass the version the
    rewrite was computed from (or None if computed against an empty
    table); if any concurrent commit has advanced the head past it,
    ``SnapshotConflictError`` is raised instead of publishing a result
    that would silently drop the concurrent commit's rows from the new
    head. Appends should leave it unset — they are order-independent
    and blind retry is correct for them.

    ``_rebase`` (internal; merge/delete/update/optimize): Delta-style
    LOGICAL conflict resolution instead of the outright raise. When
    the head advanced past ``expected_parent``, the losing rewrite is
    re-pointed at the new head iff every interleaved commit is a pure
    append (its dir set a superset of its parent's, constraint set
    unchanged): the published dirs become the head's dirs minus the
    dirs this op rewrote/dropped plus its rewritten dirs — appended
    rows survive, rewritten rows land, and the op's predicate simply
    never saw the concurrent arrivals (write-serializable isolation,
    Delta's conflict matrix). Any interleaved overwrite / restore /
    rewrite / constraint change overlaps by definition and raises.

    Concurrent writers: the manifest is published put-if-absent; on
    conflict the loser re-reads the new parent (re-deriving the append
    dir list and re-running the batch_id dedup against the winner's
    commits) and retries with the next version number — unless
    ``expected_parent`` pins the rewrite's basis, in which case the
    conflict raises. The data directory is written once, outside the
    retry loop.

    ``stats_cols``: record per-directory [min, max] for the named
    columns in the manifest (the Delta/Iceberg data-skipping stats,
    at directory granularity to match this log's unit of reference).
    Stats for directories CARRIED from the parent manifest are carried
    with them, so an append chain accumulates skipping metadata
    version over version at zero re-scan cost; merge/delete/optimize
    recompute stats for the directories they rewrite (over the
    columns the parent already tracks), so CRUD keeps the skipping
    metadata alive; a directory with no recorded stats is simply
    unprunable (safe). Read the table with
    :func:`scan_snapshot` to skip directories whose range cannot
    intersect a predicate — at 100 TB this is the difference between
    listing KB of manifest and scanning TB of parquet footers. Only
    JSON-stable scalar types (int/float/str/bool) are recorded;
    other columns are skipped.

    ``check_constraints``: named SQL CHECK constraints (Delta's
    ``ALTER TABLE ... ADD CONSTRAINT`` as a commit option). They are
    TABLE-LEVEL state: stored in the manifest, carried forward by
    every later commit, and ENFORCED on every data-writing commit —
    this one's ``df``, later appends/overwrites, merge sources and
    UPDATE postimages all raise :class:`ConstraintViolationError`
    (with per-constraint violation counts, one extra aggregate pass)
    when a row evaluates a constraint to FALSE (NULL satisfies, the
    SQL CHECK rule). When constraints are present the incoming ``df``
    is pinned with one eager ``localCheckpoint`` so validation and the
    write see the SAME rows — a non-deterministic df (rand(),
    sampling) cannot pass validation yet write violating rows (the
    determinism rule merge/update already enforce). A constraint NAME
    (or changed expression) that is NEW to the table and arrives on an
    ``append`` also validates the EXISTING basis snapshot in one
    aggregate pass — Delta's ALTER TABLE ADD CONSTRAINT contract:
    pre-existing violations refuse the constraint up front instead of
    surfacing later from an unrelated UPDATE (use
    :func:`add_constraint` / :func:`drop_constraint` for the
    metadata-only lifecycle verbs). Constraints must be SQL strings so
    the manifest stays JSON. delete/restore/clone carry them forward
    without re-validation (removal and re-reference cannot create new
    rows). Enforcement is against the basis snapshot's constraint set
    — a constraint added by a concurrent racer applies from the next
    commit (the Delta best-effort rule).

    ``df=None`` with ``_dirs=None`` publishes a METADATA-ONLY commit:
    the data dir list is the parent's, re-read per retry so a racing
    append's dirs are adopted, never dropped (the add/drop-constraint
    verbs ride this).

    ``_written`` (internal; the rewrite verbs): ``{dir: schema}`` of
    the frames the caller wrote into the fresh entries of ``_dirs``.
    With it (or with ``df``, or on a metadata-only commit) the manifest
    gets the ``uniform`` marker when every referenced directory holds
    exactly the recorded schema — see the module docstring. Callers
    passing ``_dirs`` without ``_written`` (restore, clone) never get
    the marker.
    """
    if mode not in ("append", "overwrite", "replace"):
        raise ValueError(f"mode must be append|overwrite|replace, got {mode!r}")
    st = _store(store)
    st.check_path(table_path)

    def _conflict(parent: int | None, why: str = "") -> SnapshotConflictError:
        return SnapshotConflictError(
            f"table {table_path!r} advanced to version {parent} "
            f"past expected_parent={expected_parent!r}; this "
            "commit's content was derived from a stale snapshot — "
            "re-read and re-derive instead of overwriting the "
            "concurrent commit's rows" + (f" ({why})" if why else "")
        )

    def _try_rebase(head: int | None, pinned: list[str]) -> list[str] | None:
        """Logical conflict resolution (``_rebase``): re-point this
        rewrite's dir algebra at ``head`` iff every commit interleaved
        since ``expected_parent`` was a pure append with an unchanged
        constraint set. Returns the rebased dir list, or None when the
        histories overlap (caller raises)."""
        basis = expected_parent
        if (
            not _rebase
            or basis is _UNSET
            or basis is None
            or head is None
            or head < basis
        ):
            return None
        basis_m = _load_manifest(table_path, basis, st)
        basis_dirs = set(basis_m["dirs"])
        basis_constraints = basis_m.get("constraints", {})
        removed = basis_dirs - set(pinned)
        added = [d for d in pinned if d not in basis_dirs]
        cur = basis_dirs
        for v in range(basis + 1, head + 1):
            m = _load_manifest(table_path, v, st)
            mdirs = set(m["dirs"])
            if (
                m["op"] != "append"
                or not mdirs >= cur
                or m.get("constraints", {}) != basis_constraints
            ):
                return None
            cur = mdirs
        head_dirs = _load_manifest(table_path, head, st)["dirs"]
        return [d for d in head_dirs if d not in removed] + added

    parent = current_version(table_path, st)
    if (
        expected_parent is not _UNSET
        and parent != expected_parent
        and not _rebase
    ):
        raise _conflict(parent)
    if batch_id is not None and parent is not None:
        seen = _batch_id_seen(table_path, parent, batch_id, st)
        if seen is not None:
            return seen
    parent_constraints: dict[str, str] = {}
    if parent is not None:
        parent_constraints.update(
            _load_manifest(table_path, parent, st).get("constraints", {})
        )
    constraints = dict(parent_constraints)
    if check_constraints:
        for cname, csql in check_constraints.items():
            if not isinstance(csql, str):
                raise ValueError(
                    f"constraint {cname!r} must be a SQL string "
                    "(manifests are JSON); got a non-string expression"
                )
        constraints.update(check_constraints)
    if _drop_constraints:
        for cname in _drop_constraints:
            constraints.pop(cname, None)
    if constraints and _dirs is None and df is not None:
        # pin ONE evaluation of df so validation and the write see the
        # same rows — a non-deterministic df cannot pass the check yet
        # write violating rows (the merge/update determinism rule).
        # The per-constraint violation counts ride the pin job itself
        # via observe/CollectMetrics (r13) — validation no longer costs
        # a second full scan of the incoming frame, and the raise still
        # happens BEFORE anything is written.
        from pyspark.sql import Observation

        _cnames = list(constraints)
        _cobs = Observation()
        df = df.observe(
            _cobs, *_constraint_aggs(_cnames, constraints)
        ).localCheckpoint(eager=True)
        _raise_violations(_cobs.get, _cnames, table_path)
    # ADD CONSTRAINT semantics: a constraint NEW to the table (fresh
    # name or changed expression) arriving on an append must also hold
    # on the EXISTING data — validate the basis snapshot in one
    # aggregate pass instead of grandfathering violations (Delta's
    # ALTER TABLE ADD CONSTRAINT contract; overwrite/replace discard
    # the old rows, so only appends validate history)
    if check_constraints and mode == "append" and parent is not None:
        introduced = {
            n: s
            for n, s in check_constraints.items()
            if parent_constraints.get(n) != s
        }
        if introduced and _load_manifest(table_path, parent, st)["dirs"]:
            _enforce_constraints(
                read_snapshot(spark, table_path, parent, store=st),
                introduced,
                table_path,
            )
    new_dir_stats: dict[str, list] = {}
    rel_dir: str | None = None
    if _dirs is None and df is not None:
        # stats ride the write job itself (Observation/CollectMetrics)
        # — one pass, no read-back of what was just written. A bad
        # stats column still raises, as the read-back aggregate did.
        if stats_cols:
            missing = [c for c in stats_cols if c not in df.columns]
            if missing:
                raise ValueError(
                    f"stats_cols not in the committed frame: {missing}"
                )
        rel_dir, new_dir_stats = _write_data_dir(
            df, table_path, list(stats_cols or [])
        )

    # {dir: written frame schema} for this commit's fresh directories —
    # the evidence the ``uniform`` marker derives from (None: the caller
    # re-references dirs it did not write, e.g. restore/clone)
    fresh = _written if _dirs is not None else (
        {rel_dir: df.schema} if df is not None else {}
    )

    for _ in range(_COMMIT_RETRIES):
        version = 0 if parent is None else parent + 1
        parent_m = (
            _load_manifest(table_path, parent, st) if parent is not None
            else {}
        )
        rebased = expected_parent is not _UNSET and parent != expected_parent
        if rebased:
            # head advanced past the rewrite's basis — rebase (logical
            # conflict resolution) or raise; only reached with _rebase
            pinned = list(_dirs) if _dirs is not None else [rel_dir]
            dirs = _try_rebase(parent, pinned)
            if dirs is None:
                raise _conflict(
                    parent,
                    "an interleaved commit rewrote/replaced data or "
                    "changed constraints — not rebaseable",
                )
        elif _dirs is not None:
            # caller (merge_upsert) wrote and pinned its own dir set
            dirs = list(_dirs)
        elif df is None:
            # metadata-only commit: parent's dirs, re-read per retry
            dirs = list(parent_m.get("dirs", []))
        else:
            dirs = [rel_dir]
            if mode == "append" and parent is not None:
                dirs = parent_m["dirs"] + dirs
        manifest = {
            "version": version,
            "parent": parent,
            "op": _op or mode,
            "dirs": dirs,
        }
        # Commit timestamp (micros), the clock behind TIMESTAMP AS OF:
        # wall time forced MONOTONIC past the parent's stamp (Delta's
        # in-commit-timestamp rule) so timestamp resolution is a
        # well-ordered cut of the version line even under clock skew
        # between writers; recomputed per publish retry so a lost race
        # adopts the winner's stamp as the floor. ``_ts_us`` is the
        # deterministic-test injection point — it too is floored, so an
        # injected stamp can never travel backwards.
        now_us = _ts_us if _ts_us is not None else time.time_ns() // 1000
        manifest["ts_us"] = (
            max(now_us, parent_m.get("ts_us", 0) + 1)
            if parent is not None
            else now_us
        )
        # carry data-skipping stats with the directories they describe:
        # dirs kept from the parent keep their ranges, this commit's
        # fresh dir gets the ranges computed above, and merge/delete
        # pass recomputed ranges for their rewritten dirs via
        # _dir_stats — a dir with no entry is "unprunable", never
        # "wrong".
        parent_stats = parent_m.get("stats", {})
        stats: dict[str, dict] = {
            d: parent_stats[d] for d in dirs if d in parent_stats
        }
        if new_dir_stats:
            stats[rel_dir] = new_dir_stats
        if _dir_stats:
            stats.update({d: s for d, s in _dir_stats.items() if s})
        if stats:
            manifest["stats"] = stats
        # manifest-carried SCHEMA (Delta's schemaString): written once
        # at commit time so readers/CRUD never pay a footer-union pass
        # to rediscover it. Overwrites record the written frame's
        # schema; appends and _dirs rewrites merge it with the
        # parent's recorded union (re-read per retry so a racer's
        # evolution carries); a type-mismatched merge records nothing
        # (readers fall back to mergeSchema — slower, never wrong).
        written = _schema if _schema is not None else (
            df.schema if df is not None else None
        )
        written = _as_nullable(written) if written is not None else None
        parent_sch = _stored_schema(parent_m) if parent is not None else None
        if df is not None and _dirs is None and mode in (
            "overwrite", "replace",
        ):
            sch = written
        elif written is None:
            sch = parent_sch
        elif parent is None or parent_sch is None:
            # no parent union to carry: for a fresh table the written
            # schema IS the table schema; for an unrecorded legacy log
            # a partial claim could hide parent-only columns — record
            # nothing and keep the footer-union fallback
            sch = written if parent is None else None
        else:
            sch = _merge_schemas(parent_sch, written)
        if sch is not None:
            manifest["schema"] = sch.jsonValue()
            if not rebased and _is_uniform(sch, dirs, fresh, parent_m):
                manifest["uniform"] = True
        # constraints are table-level state: parent's set (re-read per
        # retry so a racer's additions carry) merged with this call's
        # adds, minus this call's drops
        c = dict(parent_m.get("constraints", {}))
        if check_constraints:
            c.update(check_constraints)
        if _drop_constraints:
            for cname in _drop_constraints:
                c.pop(cname, None)
        if c:
            manifest["constraints"] = c
        if _extra_manifest:
            manifest.update(_extra_manifest)
        if batch_id is not None:
            manifest["batch_id"] = batch_id
        if st.put_if_absent(
            _manifest_path(table_path, version),
            json.dumps(manifest).encode(),
        ):
            if (version + 1) % _CHECKPOINT_INTERVAL == 0:
                _write_checkpoint(table_path, version, st)
            return version
        # Lost the race: adopt the winner's commit as parent (the top
        # of the loop re-runs the expected-parent reconcile/rebase).
        parent = current_version(table_path, st)
        if (
            expected_parent is not _UNSET
            and parent != expected_parent
            and not _rebase
        ):
            raise _conflict(parent)
        if batch_id is not None and parent is not None:
            seen = _batch_id_seen(table_path, parent, batch_id, st)
            if seen is not None:
                return seen
    raise SnapshotConflictError(
        f"could not publish a manifest at {table_path!r} after "
        f"{_COMMIT_RETRIES} attempts — a concurrent writer kept winning"
    )


def _constraint_aggs(names: list[str], constraints: dict[str, str]):
    """Per-constraint violation-count aggregates (NULL satisfies — the
    SQL CHECK rule), aliased positionally."""
    return [
        F.sum(
            F.when(
                ~F.coalesce(F.expr(constraints[n]), F.lit(True)), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias(f"_c{i}")
        for i, n in enumerate(names)
    ]


def _raise_violations(
    counts: dict, names: list[str], table_path: str
) -> None:
    bad = {
        n: int(counts[f"_c{i}"])
        for i, n in enumerate(names)
        if counts.get(f"_c{i}") is not None and counts[f"_c{i}"] > 0
    }
    if bad:
        raise ConstraintViolationError(
            f"commit to {table_path!r} violates CHECK constraints "
            f"{bad} (constraint -> violating-row count); fix the data "
            "or drop the constraint"
        )


def _enforce_constraints(
    df: DataFrame, constraints: dict[str, str], table_path: str
) -> None:
    """Raise :class:`ConstraintViolationError` if any row of ``df``
    evaluates any constraint to FALSE (NULL satisfies — the SQL CHECK
    rule). ONE aggregate pass however many constraints; only the
    per-constraint violation counts reach the driver."""
    if not constraints:
        return
    names = list(constraints)
    row = df.agg(*_constraint_aggs(names, constraints)).collect()[0]
    _raise_violations(
        {f"_c{i}": row[i] for i in range(len(names))}, names, table_path
    )


_CONSTRAINT_RETRIES = 8


def add_constraint(
    spark: SparkSession,
    table_path: str,
    name: str,
    sql: str,
    store: ManifestStore | None = None,
) -> int:
    """``ALTER TABLE ... ADD CONSTRAINT`` as a METADATA-ONLY commit:
    validates the named SQL CHECK against the table's EXISTING data in
    one folded aggregate pass (a violating table refuses the
    constraint with per-constraint violation counts —
    :class:`ConstraintViolationError`), then publishes a commit whose
    dir list is the parent's, carrying the enlarged constraint set.
    Every later write path enforces it (see :func:`commit`).

    Concurrency: validation is pinned to the head it read
    (``expected_parent``); if a writer lands in the validate→publish
    window the verb re-reads the new head and RE-VALIDATES against it
    (bounded retries) — a constraint can never be published without
    having held on the exact snapshot it attached to.

    Reference analog: the stage-manifest validation posture of
    figure_eight_functions.py:180-247 (validate the full existing
    artifact set before accepting a new pipeline rule)."""
    st = _store(store)
    last: Exception | None = None
    for _ in range(_CONSTRAINT_RETRIES):
        head = current_version(table_path, st)
        if head is not None and _load_manifest(table_path, head, st)["dirs"]:
            _enforce_constraints(
                read_snapshot(spark, table_path, head, store=st),
                {name: sql},
                table_path,
            )
        try:
            return commit(
                spark,
                None,
                table_path,
                mode="append",
                expected_parent=head,
                store=st,
                check_constraints={name: sql},
                _op="add_constraint",
            )
        except SnapshotConflictError as e:
            last = e  # a writer interleaved: re-read, re-validate
    raise SnapshotConflictError(
        f"could not add constraint {name!r} at {table_path!r} after "
        f"{_CONSTRAINT_RETRIES} validate-and-publish attempts"
    ) from last


def drop_constraint(
    spark: SparkSession,
    table_path: str,
    name: str,
    store: ManifestStore | None = None,
    if_exists: bool = False,
) -> int:
    """``ALTER TABLE ... DROP CONSTRAINT``: a metadata-only commit
    whose constraint set is the parent's minus ``name`` (re-read per
    publish retry, so a racing add of a DIFFERENT constraint is
    carried, never clobbered). Unknown names raise unless
    ``if_exists``. After the drop, writes violating the old rule
    succeed — the lifecycle test pins exactly that."""
    st = _store(store)
    head = current_version(table_path, st)
    held = (
        _load_manifest(table_path, head, st).get("constraints", {})
        if head is not None
        else {}
    )
    if name not in held:
        if if_exists:
            return head if head is not None else -1
        raise ValueError(
            f"no constraint named {name!r} at {table_path!r} "
            f"(have: {sorted(held) or '<none>'})"
        )
    return commit(
        spark,
        None,
        table_path,
        mode="append",
        store=st,
        _op="drop_constraint",
        _drop_constraints=[name],
    )


_CHANGES_DIR = "_changes"
# Internal columns of the copy-on-write verbs: _DIR_COL attributes each
# basis row to its data directory, _FLAG_COL pins one evaluation of a
# verb's row classification. Deliberately unlikely names; every verb
# raises before its first Spark job if the table or an incoming frame
# carries one (a silent withColumn overwrite would corrupt touched-dir
# detection AND the change set).
_DIR_COL = "_dde_internal_dir"
_FLAG_COL = "_dde_internal_flag"


def _check_reserved(columns: list[str], what: str) -> None:
    clash = [c for c in (_DIR_COL, _FLAG_COL) if c in columns]
    if clash:
        raise ValueError(
            f"{what} carries reserved column(s) {clash}, which "
            "merge_upsert/delete_where/update_where/replace_where use "
            "internally — rename before using copy-on-write CRUD"
        )


def _with_dir_col(parent: DataFrame) -> DataFrame:
    _check_reserved(parent.columns, "table")
    # Greedy `.*/` pins the LAST `data/<dir>/` pair in the file path, so
    # a table (or clone source) living under an ANCESTOR directory named
    # 'data' (/warehouse/data/tbl/data/cX/part.parquet) still yields the
    # manifest token 'data/cX', never 'data/tbl'. The optional
    # `/_zb=<n>` second component attributes rows of a Z-ordered
    # commit (optimize_table(zorder_by=...) publishes one manifest dir
    # per z-bucket subdirectory) to their bucket dir.
    return parent.withColumn(
        _DIR_COL,
        F.regexp_extract(
            F.col("_metadata.file_path"),
            f".*/({_DATA_DIR}/[^/]+(?:/_zb=[^/]+)?)/",
            1,
        ),
    )


def _dir_tokens(parent_dirs: list[str]) -> dict[str, str]:
    """Map each manifest dir entry to the ``data/<name>`` token
    ``_with_dir_col`` extracts from file paths. Entries are table-
    relative normally, but ABSOLUTE for shallow-cloned directories
    (clone_table) — the token is the same either way, which is what
    lets merge/delete attribute rows to manifest entries on a clone.
    Token collisions (two entries with the same uuid directory name —
    e.g. the same source dir referenced twice) fail loudly: silent
    aliasing would corrupt touched-dir accounting."""
    def _token(d: str) -> str:
        parts = d.rstrip("/").split("/")
        if parts[-1].startswith("_zb=") and len(parts) >= 2:
            # z-bucket subdirectory: the token carries its parent
            # commit dir too, matching _with_dir_col's extraction
            return f"{_DATA_DIR}/{parts[-2]}/{parts[-1]}"
        return f"{_DATA_DIR}/{parts[-1]}"

    tokens = {_token(d): d for d in parent_dirs}
    if len(tokens) != len(parent_dirs):
        raise ValueError(
            "duplicate data-directory names in manifest dirs "
            f"{parent_dirs!r} — cannot attribute rows to directories"
        )
    return tokens


def _as_col(e):
    """A Column, or a SQL expression string parsed into one."""
    return F.expr(e) if isinstance(e, str) else e


def _as_changes(df: DataFrame, change: str, subtype: str | None = None):
    """``df`` as change-feed rows: ``_change_type`` = ``change``,
    ``_change_subtype`` = ``subtype`` (default: ``change``)."""
    return df.withColumn("_change_type", F.lit(change)).withColumn(
        "_change_subtype", F.lit(subtype or change)
    )


def _write_change_set(chg: DataFrame, table_path: str) -> dict:
    """Persist a commit's row-level change set under ``_changes/`` —
    OUTSIDE the data root so vacuum's unreferenced-dir sweep never
    confuses CDC files with table data (Delta keeps _change_data the
    same way). Returns the manifest entries naming it: the
    table-relative ``change_dir`` and its written ``change_schema``
    (one frame, one write job — so ``read_changes`` can read it with
    that schema instead of inferring it from a footer)."""
    chg_dir = os.path.join(
        table_path, _CHANGES_DIR, f"g{uuid.uuid4().hex[:12]}"
    )
    chg.write.parquet(chg_dir)
    return {
        "change_dir": os.path.relpath(chg_dir, table_path),
        "change_schema": _as_nullable(chg.schema).jsonValue(),
    }


# A rewrite commit's output writes (change set / survivors / merge
# source) are mutually independent jobs over frames that derive from
# the SAME already-materialized pins, so the driver may submit them
# concurrently and let the scheduler back-fill each write's task tail
# with the next write's tasks (guide §2.6 — actions are sequential
# only because the driver calls them sequentially). This is the warm
# x128 overlap case, NOT the rejected cold-audit-read case (r13): the
# inputs are pinned blocks plus just-scanned parquet, and each thunk
# is one write job, so the driver-side analysis contention that made
# cold snapshot reads 2x slower does not apply.
def _overlap_writes(thunks):
    """Run independent write thunks concurrently and return their
    results in input order; a single thunk runs inline. On failure,
    every sibling is waited for first (none is left writing behind the
    caller's back); then the EARLIEST failure in input order is
    raised, with each later failure attached to it as a note. Nothing
    is published: a sibling write that landed is an orphan directory
    the next vacuum sweeps — the crash-between-write-and-publish case
    the manifest-written-last protocol already covers.

    Each pooled thunk runs under the caller's Spark local properties
    (job group, job description, scheduler pool) and the session's job
    tags, captured here in the caller's thread, so ``cancelJobGroup``
    and job-group attribution cover the overlapped writes too."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    session = SparkSession.getActiveSession()
    if session is not None:
        # one wrap per thunk: each clones the properties it installs,
        # so concurrent writes never share one mutable property set
        thunks = [inheritable_thread_target(session)(t) for t in thunks]
    # leaving the block waits for every submitted write
    with ThreadPoolExecutor(max_workers=min(3, len(thunks))) as pool:
        futs = [pool.submit(t) for t in thunks]
    errors = [f.exception() for f in futs if f.exception() is not None]
    if errors:
        for other in errors[1:]:
            errors[0].add_note(
                f"a sibling write also failed: {type(other).__name__}: {other}"
            )
        raise errors[0]
    return [f.result() for f in futs]


class _Rewrite:
    """The copy-on-write skeleton of merge_upsert, delete_where,
    update_where and replace_where (Delta's rewrite protocol at
    directory granularity); each verb supplies only its row
    classification and change set.

    Construction resolves the basis (the head; None on an empty table
    when ``empty_ok``, else raises), the replayed ``batch_id``'s
    version (``seen``), and refuses reserved columns in ``incoming``
    frames and the table before any Spark job. ``scan`` reads the
    basis with its union schema (a plain read could drop a column an
    ``evolve_schema`` merge added); ``rows`` adds ``_DIR_COL``."""

    def __init__(
        self, spark, table_path, store, batch_id, incoming=(),
        empty_ok=False,
    ):
        for df in incoming:
            _check_reserved(df.columns, "the incoming frame")
        self.spark, self.table_path = spark, table_path
        self.batch_id = batch_id
        self.st = st = _store(store)
        self.basis = (
            current_version(table_path, st)
            if empty_ok
            else _resolve_version(table_path, st)
        )
        self.seen = None
        if self.basis is not None and batch_id is not None:
            self.seen = _batch_id_seen(table_path, self.basis, batch_id, st)
        if self.basis is None or self.seen is not None:
            return
        self.manifest = _load_manifest(table_path, self.basis, st)
        self.tokens = _dir_tokens(self.manifest["dirs"])
        self.scan = _snapshot_reader(spark, self.manifest, True).parquet(
            *[os.path.join(table_path, d) for d in self.manifest["dirs"]]
        )
        self.rows = _with_dir_col(self.scan)
        self.touched: set[str] = set()

    def find(self, matches: DataFrame) -> DataFrame:
        """Rows of every directory holding a row of ``matches`` (a
        filter of ``rows``). One catalog-sized ``collect`` — one dir
        token per touched directory — discovers them into ``touched``;
        a token that maps to no manifest directory fails descriptively
        instead of corrupting touched-dir accounting."""
        found = {
            r[_DIR_COL] for r in matches.select(_DIR_COL).distinct().collect()
        }
        unknown = sorted(found - set(self.tokens))
        if unknown:
            raise ValueError(
                f"cannot attribute rows of {self.table_path!r} to manifest "
                f"data directories: extracted tokens {unknown} are not "
                f"among the manifest's {sorted(self.tokens)} — the table "
                "layout does not match its manifest (files outside a "
                "data/<dir>/ directory?)"
            )
        self.touched = {self.tokens[t] for t in found}
        return self.rows.where(F.col(_DIR_COL).isin(list(found)))

    def split(self, cond) -> tuple[DataFrame, DataFrame]:
        """(matched, survivors) of the touched directories: rows where
        ``cond`` is TRUE match, FALSE or NULL survive (SQL DML). The
        predicate is evaluated over the touched dirs EXACTLY ONCE (one
        ``localCheckpoint`` pin), so both halves — and every change set
        derived from them — agree even for a non-deterministic
        predicate."""
        flagged = (
            self.find(self.rows.where(cond))
            .withColumn(_FLAG_COL, F.coalesce(cond, F.lit(False)))
            .localCheckpoint(eager=True)
        )
        flag = F.col(_FLAG_COL)
        return (
            flagged.where(flag).drop(_DIR_COL, _FLAG_COL),
            flagged.where(~flag).drop(_DIR_COL, _FLAG_COL),
        )

    def publish(
        self, op: str, chg: DataFrame, survivors: DataFrame,
        inserted: DataFrame | None = None, schema=None,
    ) -> int:
        """Write the change set, the ``survivors`` (only when a dir was
        touched: no empty dirs) and ``inserted`` (when given) as
        overlapping jobs over the pins (§2.6), then publish one rewrite
        commit pinned to the basis with the append-only auto-rebase:
        untouched dirs carried, each new dir with fused stats over the
        tracked columns and its written schema (``uniform`` evidence).
        ``schema`` (default: the basis scan's) is the table schema."""
        frames = [survivors] if self.touched else []
        if inserted is not None:
            frames.append(inserted)
        tracked = _tracked_stat_cols(self.manifest)
        results = _overlap_writes(
            [lambda: _write_change_set(chg, self.table_path)]
            + [
                lambda f=f: _write_data_dir(f, self.table_path, tracked)
                for f in frames
            ]
        )
        new = results[1:]
        kept = [d for d in self.manifest["dirs"] if d not in self.touched]
        return commit(
            self.spark, None, self.table_path, mode="overwrite",
            batch_id=self.batch_id, expected_parent=self.basis,
            store=self.st, _op=op, _dirs=kept + [rel for rel, _ in new],
            _rebase=True, _extra_manifest=results[0], _dir_stats=dict(new),
            _written={rel: f.schema for (rel, _), f in zip(new, frames)},
            _schema=self.scan.schema if schema is None else schema,
        )


def merge_upsert(
    spark: SparkSession,
    source: DataFrame,
    table_path: str,
    keys: list[str],
    batch_id: int | None = None,
    evolve_schema: bool = False,
    store: ManifestStore | None = None,
    delete_condition=None,
    source_meta_cols: list[str] | None = None,
) -> int:
    """MERGE (upsert) ``source`` into the table by ``keys``: rows whose
    key exists are replaced, new keys are inserted — Delta's
    ``MERGE WHEN MATCHED UPDATE SET * WHEN NOT MATCHED INSERT *``.

    ``delete_condition`` adds the third Delta MERGE clause:
    ``WHEN MATCHED AND <condition> THEN DELETE`` — source rows
    satisfying it are TOMBSTONES: their matched table rows are deleted
    (change feed ``delete``/``delete``), nothing is inserted for them,
    and a tombstone whose key does not exist folds to a no-op (exactly
    how a CDC apply treats a delete for an already-absent row). The
    condition is a Column/SQL string over SOURCE columns (typically a
    CDC op flag: ``delete_condition="op = 'D'"``).
    ``source_meta_cols`` names CDC metadata columns (op flags, LSNs)
    stripped from the source AFTER the condition evaluates, so the
    remaining columns can satisfy the schema contract below.

    PRECONDITION: ``source`` carries at most one row per key (the same
    requirement Delta MERGE enforces); several source rows for one key
    would make the surviving row order-dependent.

    Schema contract: ``source`` must carry exactly the table's column
    set, else ``ValueError`` — a silently-different source would write
    mixed-schema data directories readable only via
    ``merge_schema=True``. Pass ``evolve_schema=True`` to opt into
    evolution (Delta's ``mergeSchema`` writer option): both the
    survivors and the source are NULL-padded to the UNION of the two
    column sets, so every directory this commit writes — and the
    change set — carries the evolved schema, and a plain
    ``read_snapshot`` of the new version sees it (directories carried
    by reference keep the old schema; read the table with
    ``merge_schema=True`` until an OPTIMIZE rewrites them).

    Scale shape (the Delta copy-on-write rule at directory granularity):
    only the parent directories that CONTAIN a matched key are
    rewritten — their surviving (unmatched) rows land in one new
    directory; every untouched directory is carried by reference. One
    key-semi-join scan finds the touched dirs, one filtered scan
    rewrites them; a merge touching 0.1% of files rewrites 0.1% of the
    data, never the table.

    CDC: the commit writes its row-level change set — ``delete`` /
    ``insert`` pairs for replaced keys (the two rows a fold consumer
    needs; Delta CDF's update_pre/postimage refinement of the same
    rows), plain ``insert`` for new keys — to a ``_changes`` file the
    manifest references, so ``read_changes`` ships the EXACT delta
    without diffing snapshots. Replaced keys get _change_subtype
    'update_preimage'/'update_postimage'; new keys 'insert'.

    Concurrency: the rewrite is pinned to the snapshot it read
    (``expected_parent``) with Delta-style LOGICAL conflict
    resolution: if only pure appends interleaved between the read and
    the publish, the commit auto-rebases onto the new head (appended
    dirs kept, rewritten dirs land — see ``commit(_rebase=...)``); an
    interleaved overwrite/rewrite/constraint change raises
    ``SnapshotConflictError`` instead of silently resurrecting
    replaced rows. ``batch_id`` gives streaming foreachBatch sinks the
    same exactly-once replay dedup as ``commit``.

    Determinism: ``source`` is evaluated ONCE (pinned via
    ``localCheckpoint``, the same source-materialization Delta MERGE
    performs) before the multi-job sequence (touched-dir semi-join,
    change-set write, source write), so even a non-deterministic
    source (sampling, ``rand()`` columns) commits a change set
    consistent with the published data. The pin costs one batch-sized
    materialization — the source is the DELTA, never the table, so
    this stays proportional to the change at 100 TB.
    """
    rw = _Rewrite(spark, table_path, store, batch_id, [source], empty_ok=True)
    if rw.seen is not None:
        return rw.seen
    # the schema contract needs no job (the basis schema is the
    # manifest's), so it runs before the pin below
    src_set = set(source.columns) - set(source_meta_cols or [])
    par_set = set(rw.scan.columns) if rw.basis is not None else src_set
    if src_set != par_set and not evolve_schema:
        raise ValueError(
            "merge_upsert source schema differs from the table's "
            f"(source-only: {sorted(src_set - par_set)}, "
            f"table-only: {sorted(par_set - src_set)}); pass "
            "evolve_schema=True to evolve, or align the source"
        )
    # pin ONE evaluation of the source before any of the jobs below
    # read it — a recompute-on-block-loss here fails loudly instead of
    # silently re-rolling a non-deterministic source. The exact row
    # count rides the pin job via observe (no extra action) and decides
    # whether the delta-sized key sets below broadcast into the
    # table-side joins: a checkpointed source is a LogicalRDD with
    # unknown stats, so WITHOUT the hint Catalyst shuffles the TABLE
    # side of every key join — at 100 TB that is a table-sized shuffle
    # to look up a delta-sized key set (guide §3.1).
    from pyspark.sql import Observation

    dc = _as_col(delete_condition)
    _obs = Observation()
    _aggs = [F.count(F.lit(1)).alias("n")]
    if dc is not None:
        # upsert-row count (non-tombstones) rides the pin too — it
        # replaces the later "pure-tombstone batch?" limit(1).count()
        _aggs.append(
            F.sum((~F.coalesce(dc, F.lit(False))).cast("long")).alias(
                "n_upsert"
            )
        )
    source = source.observe(_obs, *_aggs).localCheckpoint(eager=True)
    _m = _obs.get
    _bcast = _m["n"] <= _MERGE_BROADCAST_MAX_ROWS

    def _keyside(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if _bcast else df

    del_keys = None
    if dc is not None:
        del_keys = source.where(dc).select(*keys).dropDuplicates(keys)
        source = source.where(~F.coalesce(dc, F.lit(False)))
    if source_meta_cols:
        source = source.drop(*source_meta_cols)
    if rw.basis is None:
        # empty table: MERGE degenerates to pure insert (tombstones for
        # keys that never existed fold to no-ops); change set is the
        # source itself
        chg = _as_changes(source, "insert")
        return commit(
            spark,
            source,
            table_path,
            mode="overwrite",
            batch_id=batch_id,
            expected_parent=None,
            store=rw.st,
            _op="merge",
            _extra_manifest=_write_change_set(chg, table_path),
        )

    if src_set != par_set:
        # NULL-pad each side with the other's missing columns so every
        # directory this commit writes carries the UNION schema (the
        # dir column is already attached: it resolves only on the
        # direct file scan, never above this union).
        if par_set - src_set:
            source = source.unionByName(
                rw.scan.limit(0), allowMissingColumns=True
            )
        if src_set - par_set:
            rw.rows = rw.rows.unionByName(
                source.limit(0), allowMissingColumns=True
            )
    # table-level CHECK constraints apply to the rows this MERGE
    # writes — the final (post-split, post-evolution) source
    _enforce_constraints(
        source, rw.manifest.get("constraints", {}), table_path
    )
    # the MERGE precondition (at most one source row per key) makes the
    # projected key set already distinct — no dedup shuffle before the
    # semi/anti joins, whose semantics tolerate duplicates anyway
    src_keys = source.select(*keys)
    # union of upsert keys and tombstone keys drives BOTH touched-dir
    # discovery and the survivor anti-join (a dir holding only
    # tombstoned rows must still rewrite)
    all_keys = (
        src_keys.unionByName(del_keys)
        if del_keys is not None
        else src_keys
    )
    # the key set broadcasts (see the pin above), so the TABLE side
    # never shuffles: one pruned scan per job, delta-sized hash set on
    # every executor.
    touched = rw.find(rw.rows.join(_keyside(all_keys), keys, "semi"))
    survivors = touched.join(_keyside(all_keys), keys, "anti").drop(_DIR_COL)
    preimages = touched.join(_keyside(src_keys), keys, "semi").drop(_DIR_COL)

    data_cols = source.columns
    # ONE left join against the (delta-sized, deduped) preimage key set
    # classifies every source row as update_postimage (key existed) or
    # insert — the previous semi + anti pair scanned the source twice
    # for the same boolean
    pre_keys = preimages.select(*keys).dropDuplicates(keys)
    src_flagged = source.join(
        _keyside(pre_keys.withColumn(_FLAG_COL, F.lit(True))), keys, "left"
    )
    chg = _as_changes(
        preimages.select(*data_cols), "delete", "update_preimage"
    ).unionByName(
        src_flagged.select(
            *data_cols,
            F.lit("insert").alias("_change_type"),
            F.when(F.col(_FLAG_COL), F.lit("update_postimage"))
            .otherwise(F.lit("insert"))
            .alias("_change_subtype"),
        )
    )
    if del_keys is not None:
        tombstoned = touched.join(
            _keyside(del_keys), keys, "semi"
        ).drop(_DIR_COL)
        chg = chg.unionByName(
            _as_changes(tombstoned.select(*data_cols), "delete")
        )
    # a pure-tombstone batch has no upsert rows, so no source directory
    # (the upsert count was observed on the pin)
    upserts = del_keys is None or (_m["n_upsert"] or 0) > 0
    return rw.publish(
        "merge", chg, survivors, source if upserts else None, source.schema
    )


def delete_where(
    spark: SparkSession,
    table_path: str,
    condition,
    batch_id: int | None = None,
    store: ManifestStore | None = None,
) -> int:
    """DELETE FROM the table WHERE ``condition`` — the third leg of the
    Delta CRUD surface (append/overwrite = INSERT, :func:`merge_upsert`
    = UPDATE/INSERT, this = DELETE). ``condition`` is a Column or SQL
    string; rows where it evaluates TRUE are removed, FALSE **or NULL**
    survive (SQL DELETE semantics — the survivor filter is
    ``NOT coalesce(cond, false)``, not ``~cond``, so a NULL predicate
    never deletes).

    Scale shape (same copy-on-write rule as merge): one predicate scan
    finds the parent directories CONTAINING a matched row; only those
    are rewritten (their survivors land in one new directory), every
    untouched directory is carried by reference — a delete matching
    0.1% of files rewrites 0.1% of the data. When the predicate aligns
    with the layout (partition values, zone-map ranges), parquet
    pushdown prunes the find scan too.

    CDC: the commit persists its exact row-level change set (every
    deleted row, ``_change_type``/``_change_subtype`` 'delete') under
    ``_changes/``; ``read_changes`` ships it verbatim — survivors
    contribute nothing even though the commit physically rewrites
    their directories. A predicate matching zero rows still commits
    (an empty change set): the version history records the intent,
    and a feed consumer folds a no-op.

    Concurrency/replay: basis-pinned via ``expected_parent`` with
    merge's append-only auto-rebase; ``batch_id`` dedups streaming
    foreachBatch replays.

    Determinism (ENFORCED, not just documented): the predicate is
    evaluated over the touched directories EXACTLY ONCE — the flagged
    frame is pinned via ``localCheckpoint`` and BOTH the change set and
    the survivors derive from that single evaluation — so even a
    ``rand()``-based sampling delete ships a change feed exactly
    consistent with the surviving data. (The dir-discovery scan is a
    separate evaluation, but it only SELECTS which dirs rewrite:
    undiscovered dirs are carried unchanged and contribute no change
    rows, so the commit stays self-consistent.) The pin materializes
    only the touched directories — the same volume the copy-on-write
    rewrite writes anyway.
    """
    rw = _Rewrite(spark, table_path, store, batch_id)
    if rw.seen is not None:
        return rw.seen
    # change set and survivors both derive from the SAME pinned
    # evaluation (see docstring)
    deleted, survivors = rw.split(_as_col(condition))
    return rw.publish("delete", _as_changes(deleted, "delete"), survivors)


def update_where(
    spark: SparkSession,
    table_path: str,
    condition,
    set_exprs: dict,
    batch_id: int | None = None,
    store: ManifestStore | None = None,
) -> int:
    """UPDATE ... SET ... WHERE — the fourth DML verb, completing the
    SQL surface beside append/overwrite (INSERT), :func:`merge_upsert`
    (MERGE) and :func:`delete_where` (DELETE): rows where ``condition``
    is TRUE get each ``set_exprs`` column replaced by its expression
    (Column or SQL string, evaluated over the row's CURRENT values —
    ``{"cents": "cents + 500"}`` is the usual shape); FALSE or NULL
    rows are untouched (SQL UPDATE semantics). Each result is cast to
    its column's type (SQL store assignment: ``sh * 1.5`` on a SMALLINT
    stays SMALLINT; under ANSI mode an overflow raises and nothing is
    published). Unknown SET columns raise — UPDATE never evolves schema
    (use ``merge_upsert`` with ``evolve_schema`` for that).

    Scale shape (the copy-on-write rule shared with merge/delete): one
    predicate scan finds the parent directories CONTAINING a matched
    row; only those rewrite — their unmatched survivors plus the
    updated rows land in one new directory, every untouched directory
    is carried by reference, and the rewritten dir's data-skipping
    stats are recomputed.

    CDC: the commit persists delete/insert pairs per updated row
    (``_change_subtype`` 'update_preimage'/'update_postimage' — the
    Delta CDF refinement), shipped verbatim by ``read_changes``.

    Determinism (ENFORCED, the delete_where rule): the predicate is
    evaluated ONCE over the touched directories (pinned flagged
    frame), and the SET expressions are evaluated ONCE over the
    matched rows (pinned postimage frame) — change set and rewritten
    data derive from those single evaluations, so non-deterministic
    predicates or SET expressions still commit a self-consistent
    version + feed. Basis-pinned via ``expected_parent`` with merge's
    append-only auto-rebase; ``batch_id`` dedups streaming replays."""
    rw = _Rewrite(spark, table_path, store, batch_id)
    if rw.seen is not None:
        return rw.seen
    sets = {c: _as_col(e) for c, e in set_exprs.items()}
    types = {f.name: f.dataType for f in rw.scan.schema.fields}
    unknown = sorted(set(sets) - set(types))
    if unknown:
        raise ValueError(
            f"update_where SET columns {unknown} are not table columns "
            f"(have: {sorted(types)}); UPDATE never evolves schema"
        )
    pre, kept = rw.split(_as_col(condition))
    # ONE pinned evaluation of the SET expressions — the postimage
    # feeds BOTH the change set and the rewritten data. Table-level
    # CHECK constraints apply to the rows this UPDATE writes; their
    # violation counts ride the pin job via observe (r13) instead of a
    # second scan of the pinned postimages.
    # Each SET result is cast to its column's type (SQL store
    # assignment; under ANSI mode an overflow raises): the rewritten
    # directory must hold exactly the table schema the manifest records
    # — an uncast ``sh * 1.5`` on a SMALLINT column would write a
    # DECIMAL directory that a recorded-schema read then misreads.
    cons = rw.manifest.get("constraints", {})
    cnames = list(cons)
    post = pre.select(
        *[
            (sets[c].cast(types[c]) if c in sets else F.col(c)).alias(c)
            for c in rw.scan.columns
        ]
    )
    if cons:
        from pyspark.sql import Observation

        cobs = Observation()
        post = post.observe(cobs, *_constraint_aggs(cnames, cons))
    post = post.localCheckpoint(eager=True)
    if cons:
        _raise_violations(cobs.get, cnames, table_path)
    chg = _as_changes(pre, "delete", "update_preimage").unionByName(
        _as_changes(post, "insert", "update_postimage")
    )
    # change set and rewritten data both derive from the SAME pinned
    # pre/post evaluations
    return rw.publish("update", chg, kept.unionByName(post))


def replace_where(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    condition,
    batch_id: int | None = None,
    validate: bool = True,
    store: ManifestStore | None = None,
) -> int:
    """Predicate-scoped overwrite — Delta's ``replaceWhere`` writer
    option (the idiomatic "reload one partition/day/region" verb):
    atomically delete every row where ``condition`` is TRUE and insert
    ``df``'s rows, in ONE commit. Rows where the predicate is FALSE
    **or NULL** survive untouched (same NULL rule as delete_where).
    ``df`` must carry exactly the table's columns with the table's
    types (else ``ValueError``): its rows land in their own directory,
    which must hold the manifest schema.

    ``validate=True`` (Delta's default): every replacement row must
    itself satisfy the predicate — a reload of ``region='EU'`` that
    smuggles an ``'US'`` row refuses BEFORE writing anything, with the
    violating count in the error. ``df`` is pinned with ONE eager
    ``localCheckpoint`` so validation, the write, and the change feed
    all see the same rows (the merge/update determinism rule — a
    ``rand()``-built reload cannot pass validation yet write violating
    rows).

    Scale shape: copy-on-write like delete — one discovery scan finds
    the directories CONTAINING a matched row (zone-map/data-skipping
    stats prune it when the predicate aligns with layout), only those
    rewrite their survivors; untouched directories carry by reference.
    A daily re-partition reload therefore rewrites ~one day's files,
    never the table. Table CHECK constraints apply to the replacement
    rows. CDC ships every deleted row and every inserted row.

    Concurrency: basis-pinned with the append-only auto-REBASE of the
    other rewrite verbs (an interleaved pure append the predicate
    never saw simply survives; an interleaved rewrite raises).
    ``batch_id`` dedups streaming foreachBatch replays. On an empty
    table this is the initial load (v0), validation still applied.

    Reference parity: the reference's pipeline re-uploads one
    (fov, crop, slice) batch by deleting + re-writing NPZ files under
    a key prefix (io_utils.py:37, figure_eight_functions.py:180); this
    is that verb with transactional semantics.
    """
    cond = _as_col(condition)
    rw = _Rewrite(spark, table_path, store, batch_id, [df], empty_ok=True)
    if rw.seen is not None:
        return rw.seen
    cons = {}
    if rw.basis is not None:
        cons = rw.manifest.get("constraints", {})
        par_cols = rw.scan.columns
        if set(df.columns) != set(par_cols):
            raise ValueError(
                "replace_where frame schema differs from the table's "
                f"(frame-only: {sorted(set(df.columns) - set(par_cols))}, "
                f"table-only: {sorted(set(par_cols) - set(df.columns))})"
            )
        # the replacement rows land in their own directory: a column
        # type other than the table's would drift that directory from
        # the manifest schema. Both checks read schemas only (the
        # basis schema is the manifest's): no job runs before them.
        par_types = {
            f.name: _as_nullable(f.dataType) for f in rw.scan.schema.fields
        }
        mistyped = {
            f.name: (
                f.dataType.simpleString(), par_types[f.name].simpleString()
            )
            for f in df.schema.fields
            if _as_nullable(f.dataType) != par_types[f.name]
        }
        if mistyped:
            raise ValueError(
                "replace_where frame column types differ from the table's "
                f"(column -> (frame, table)): {mistyped}; cast the frame"
            )
    cnames = list(cons)
    # ONE pinned evaluation: validation + constraints + write + CDC.
    # The predicate-validation count, the emptiness count and the
    # per-constraint violation counts ALL ride the pin job via observe
    # (r13) — previously each was its own scan of the pinned frame.
    from pyspark.sql import Observation

    _obs = Observation()
    df = df.observe(
        _obs,
        F.sum((~F.coalesce(cond, F.lit(False))).cast("long")).alias("_bad"),
        F.count(F.lit(1)).alias("_n"),
        *_constraint_aggs(cnames, cons),
    ).localCheckpoint(eager=True)
    _m = _obs.get
    if validate and _m["_bad"]:
        raise ValueError(
            f"replace_where: {_m['_bad']} replacement row(s) do not "
            "satisfy the predicate — pass validate=False only if "
            "you really mean to insert rows outside the replaced "
            "scope"
        )
    if rw.basis is None:
        # initial load: nothing to replace, plain v0 overwrite
        return commit(
            spark, df, table_path, mode="overwrite", batch_id=batch_id,
            store=rw.st, _op="replace_where",
        )
    _raise_violations(_m, cnames, table_path)
    # ONE pinned evaluation of the predicate over the touched dirs
    # (delete_where's rule): change set and survivors derive from it
    removed, survivors = rw.split(cond)
    chg = _as_changes(removed, "delete").unionByName(
        _as_changes(df.select(*par_cols), "insert")
    )
    # an empty reload is a scoped delete (observed count)
    inserted = df.select(*par_cols) if _m["_n"] > 0 else None
    return rw.publish("replace_where", chg, survivors, inserted)


def version_at_timestamp(
    table_path: str,
    timestamp,
    store: ManifestStore | None = None,
) -> int:
    """Resolve TIMESTAMP AS OF → version: the LATEST retained version
    whose commit timestamp is <= ``timestamp`` (Delta's resolution
    rule). ``timestamp`` is epoch seconds (int/float), a
    ``datetime``, or an ISO-8601 string (naive strings are UTC).

    Delta's boundary semantics, both directions: a timestamp EARLIER
    than the earliest retained commit raises (that history may be
    vacuumed — resolving it to v0 would silently time-travel to the
    wrong data), and a timestamp LATER than the head's commit raises
    (the caller's clock says a version should exist that the log does
    not have — a skew tripwire, not a "give me latest" shorthand; use
    ``version=None`` for latest). Manifests written before timestamps
    existed read as epoch 0.
    """
    st = _store(store)
    st.check_path(table_path)
    target = _to_epoch_us(timestamp)
    latest = _resolve_version(table_path, st)
    best: int | None = None
    earliest_ts: int | None = None
    head_ts = 0
    for v in range(latest + 1):
        try:
            ts = _load_manifest(table_path, v, st).get("ts_us", 0)
        except ManifestMissingError:
            continue  # vacuumed — not a retained version
        if earliest_ts is None:
            earliest_ts = ts
        head_ts = ts
        if ts <= target:
            best = v
    if target > head_ts:
        raise ValueError(
            f"timestamp {timestamp!r} is after the latest commit "
            f"(ts_us={head_ts}) at {table_path!r}; omit the timestamp "
            "to read the head"
        )
    if best is None:
        raise ValueError(
            f"timestamp {timestamp!r} precedes the earliest retained "
            f"commit (ts_us={earliest_ts}) at {table_path!r} — that "
            "history may have been vacuumed"
        )
    return best


def _to_epoch_us(timestamp) -> int:
    """Normalize int/float epoch seconds, datetime, or ISO-8601 string
    to epoch microseconds (naive inputs are UTC)."""
    import datetime as _dt

    if isinstance(timestamp, str):
        timestamp = _dt.datetime.fromisoformat(timestamp)
    if isinstance(timestamp, _dt.datetime):
        if timestamp.tzinfo is None:
            timestamp = timestamp.replace(tzinfo=_dt.timezone.utc)
        return int(timestamp.timestamp() * 1_000_000)
    if isinstance(timestamp, (int, float)):
        return int(timestamp * 1_000_000)
    raise TypeError(
        f"timestamp must be epoch seconds, datetime, or ISO string; "
        f"got {type(timestamp).__name__}"
    )


def read_snapshot(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    merge_schema: bool = False,
    store: ManifestStore | None = None,
    timestamp=None,
) -> DataFrame:
    """The table as of ``version`` (default: latest). One distributed
    parquet scan over exactly the directories that version's manifest
    names — partition pruning, pushdown and column pruning all apply
    as on any parquet read.

    Schema: a ``uniform`` manifest (every directory written with
    exactly the recorded schema) is read with that schema — no footer
    read, so building the frame runs no Spark job. Otherwise Spark
    infers the schema from a parquet footer.

    ``merge_schema=True``: reconcile schema EVOLUTION across commits
    (a column added in a later append reads as NULL for older
    directories) — answered by the manifest-recorded union schema when
    present; logs without one fall back to the footer-union pass (one
    footer read per file).

    ``timestamp``: TIMESTAMP AS OF — epoch seconds / datetime / ISO
    string, resolved to the latest retained version committed at or
    before it (:func:`version_at_timestamp`; mutually exclusive with
    ``version``)."""
    st = _store(store)
    st.check_path(table_path)
    version = _resolve_version(table_path, st, version, timestamp)
    m = _load_manifest(table_path, version, st)
    if not m["dirs"]:
        raise ValueError(f"version {version} references no data")
    return _snapshot_reader(spark, m, merge_schema).parquet(
        *[os.path.join(table_path, d) for d in m["dirs"]]
    )


def read_changes(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int | None = None,
    merge_schema: bool = False,
    ranges: dict[str, tuple] | None = None,
    store: ManifestStore | None = None,
) -> DataFrame:
    """Row-level change feed between two snapshot versions: the rows
    each commit in ``(from_version, to_version]`` added or removed,
    tagged ``_change_type`` ('insert' | 'delete') and
    ``_commit_version`` — the Delta CDF / Iceberg incremental-read
    surface over this log. This is what lets the incremental-
    maintenance family (the x119 delta rule, retraction, SCD2 apply)
    feed straight from the snapshot log instead of hand-split frames:
    a view maintained at version F folds the feed and lands exactly at
    version T's rebuild.

    Per-op delta semantics:
    - ``append``: the commit's NEW directories are inserts (the parent
      dirs it references are history, not change).
    - ``overwrite``: every parent-version row is a delete, every new-
      version row an insert — the truncate-and-load delta.
    - ``replace``: content-preserving rewrite (compaction) — NO logical
      change, exactly how Delta CDF treats OPTIMIZE.
    - ``merge`` (:func:`merge_upsert`): the commit's persisted change
      set is shipped verbatim — delete/insert pairs for replaced keys
      (``_change_subtype`` 'update_preimage'/'update_postimage') and
      plain inserts for new keys; untouched rows contribute nothing
      even though the commit is physically an overwrite.
    - ``delete`` (:func:`delete_where`): the persisted change set
      (every deleted row, 'delete') shipped verbatim — survivors of
      the rewritten directories contribute nothing.
    - ``update`` (:func:`update_where`): the persisted change set
      (delete/insert pairs, 'update_preimage'/'update_postimage')
      shipped verbatim — untouched rows contribute nothing.
    - ``replace_where`` (:func:`replace_where`): the persisted set —
      every row of the replaced scope as 'delete', every replacement
      row as 'insert'; out-of-scope survivors contribute nothing.

    Every row also carries ``_change_subtype`` (equal to
    ``_change_type`` except for merge's update pre/postimages), the
    Delta CDF four-value refinement.

    ``merge_schema=True``: reconcile schema evolution WITHIN a commit's
    directories (footer-union read, as in ``read_snapshot``); evolution
    BETWEEN versions is always reconciled — pieces union with
    ``allowMissingColumns`` so newer columns NULL-pad older deltas.
    Without ``merge_schema``, append/overwrite pieces of a ``uniform``
    manifest read with its recorded schema, and change-set pieces with
    their recorded ``change_schema``; only pieces without such a record
    infer from a footer.

    ``ranges``: optional ``col: (lo, hi)`` bounds with the same
    OPTIMIZATION contract as :func:`scan_snapshot` — delta directories
    whose recorded [min, max] stats cannot intersect every bound are
    skipped, so a predicate-scoped feed consumer (a maintained view
    restricted to one key range) reads only the intersecting delta
    dirs instead of every commit's. Rows outside the bounds may still
    be returned; apply the actual predicate on the result. Merge/
    delete commits' persisted change sets carry no stats and are
    always read (they are already row-exact).

    Scale shape: the feed scans ONLY the directories that changed
    (for append chains: just the delta files — the common case at
    100 TB), never the unchanged history; manifest resolution is
    KB-sized driver-side catalog work.

    Note: the result is a UNION of per-commit pieces, so the
    ``_metadata`` file pseudo-column is not selectable on it (it only
    resolves directly above a file scan); per-commit provenance is the
    ``_commit_version`` column — a fully pruned commit contributes no
    piece at all."""
    st = _store(store)
    st.check_path(table_path)
    to_version = _resolve_version(table_path, st, to_version)
    if not 0 <= from_version <= to_version:
        raise ValueError(
            f"need 0 <= from_version <= to_version, got "
            f"({from_version}, {to_version})"
        )

    def _tagged(dirs: list[str], change: str, v: int, m: dict) -> DataFrame | None:
        """Piece over ``dirs`` of manifest ``m`` (a uniform manifest's
        recorded schema holds for every one of its dirs)."""
        if ranges and m.get("stats"):
            dirs = _prune_dirs({"dirs": dirs, "stats": m["stats"]}, ranges)
        if not dirs:
            return None
        reader = (
            spark.read.option("mergeSchema", "true")
            if merge_schema
            else _snapshot_reader(spark, m, False)
        )
        return (
            reader.parquet(*[os.path.join(table_path, d) for d in dirs])
            .transform(_as_changes, change)
            .withColumn("_commit_version", F.lit(v).cast("long"))
        )

    pieces: list[DataFrame] = []
    prev_m = _load_manifest(table_path, from_version, st)
    for v in range(from_version + 1, to_version + 1):
        m = _load_manifest(table_path, v, st)
        if m["op"] == "append":
            parent_set = set(prev_m["dirs"])
            new_dirs = [d for d in m["dirs"] if d not in parent_set]
            pieces.append(_tagged(new_dirs, "insert", v, m))
        elif m["op"] in ("overwrite", "restore", "clone"):
            # restore/clone are logically a truncate-and-reload of the
            # target content — the same delta shape as overwrite
            pieces.append(_tagged(prev_m["dirs"], "delete", v, prev_m))
            pieces.append(_tagged(m["dirs"], "insert", v, m))
        elif m["op"] in ("merge", "delete", "update", "replace_where"):
            # the commit wrote its EXACT row-level change set (with
            # _change_type/_change_subtype baked in) — read it, never
            # diff snapshots; one frame wrote it, so its recorded
            # schema (when present) is exact
            chg_sch = _stored_schema({"schema": m.get("change_schema")})
            reader = spark.read
            if chg_sch is not None:
                reader = reader.schema(chg_sch)
            elif merge_schema:
                reader = reader.option("mergeSchema", "true")
            pieces.append(
                reader.parquet(os.path.join(table_path, m["change_dir"]))
                .withColumn("_commit_version", F.lit(v).cast("long"))
            )
        # op == 'replace': content-preserving, no logical change
        prev_m = m
    pieces = [p for p in pieces if p is not None]

    if not pieces:
        return (
            read_snapshot(spark, table_path, to_version, store=st)
            .limit(0)
            .transform(_as_changes, "insert")
            .withColumn("_commit_version", F.lit(0).cast("long"))
        )
    out = pieces[0]
    for p in pieces[1:]:
        # allowMissingColumns: schema EVOLUTION between versions (a
        # column added by a later append) NULL-pads older pieces, the
        # same reconciliation read_snapshot(merge_schema=True) applies.
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def optimize_table(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int = 128 << 20,
    store: ManifestStore | None = None,
    zorder_by: list[str] | None = None,
    zorder_buckets: int | None = None,
) -> int:
    """OPTIMIZE as a snapshot operation: rewrite the current version
    with right-sized files and publish it as a ``replace`` commit
    pinned to the version it read (``expected_parent``) — a concurrent
    append landing between the read and the publish auto-rebases (the
    appended dirs ride along uncompacted, exactly Delta's
    OPTIMIZE-vs-append non-conflict rule); an interleaved rewrite
    raises ``SnapshotConflictError`` (the caller re-runs against the
    new head). Returns the new version (or the
    current one if the table already has no more files than the byte
    target warrants).

    This is the atomic swap ``corpus.compact_corpus`` explicitly
    punts to "the catalog layer": readers resolve manifests, so they
    see pre- or post-compaction state atomically; time travel to the
    pre-compaction version keeps reading the old directories; vacuum
    later reclaims them once unreferenced. A crash between the data
    write and the manifest publish leaves an orphan directory the next
    vacuum removes — the old version stays intact (manifest-written-
    last).

    Sizing runs no Spark job: the file count and total bytes come from
    the snapshot scan's file index (:func:`_scan_size`), which lists
    these files anyway to plan the rewrite; the rewrite repartitions
    to ceil(bytes / target) tasks."""
    st = _store(store)
    st.check_path(table_path)
    basis = _resolve_version(table_path, st)
    # merge_schema: OPTIMIZE is the documented remedy for the mixed-
    # schema dirs an evolve_schema merge leaves behind — reading with
    # the footer-union pass makes the rewrite carry the evolved UNION
    # schema table-wide instead of silently dropping the evolved
    # column when Spark infers from an old-schema footer.
    df = read_snapshot(
        spark, table_path, basis, merge_schema=True, store=st
    )
    n_files, total_bytes = _scan_size(df)
    n_target = max(1, -(-int(total_bytes) // int(target_file_bytes)))
    # keep the parent's data-skipping columns tracked through the
    # rewrite (one dir now, so the range is table-wide — honest, just
    # no longer selective until appends re-fragment the key space)
    tracked = _tracked_stat_cols(_load_manifest(table_path, basis, st))
    if zorder_by:
        # OPTIMIZE ZORDER BY (Delta/Iceberg's multi-dimensional
        # clustering, at this log's DIRECTORY granularity): interleave
        # the bits of the cluster columns into a Morton key, bucket
        # its range, land each bucket in its OWN manifest directory
        # (one write job: partitionBy on the bucket), and record
        # per-bucket [min, max] stats for every cluster column — each
        # directory then covers a tight hyper-rectangle in ALL of
        # zorder_by, so scan_snapshot/read-path range pruning skips
        # whole buckets for a predicate on ANY cluster column (a plain
        # sort clusters only the leading one). Content-preserving:
        # publishes op 'replace', CDC-invisible, append-rebaseable.
        from deepcell_data_engineering_spark.plans.layout import zvalue

        for f in df.schema.fields:
            if f.name in zorder_by and f.dataType.simpleString() not in (
                "tinyint", "smallint", "int", "bigint"
            ):
                raise ValueError(
                    f"zorder_by column {f.name!r} has type "
                    f"{f.dataType.simpleString()}; Morton interleave "
                    "needs integer-like columns (cast or derive an "
                    "integer surrogate first)"
                )
        if "_zb" in df.columns:
            raise ValueError(
                "table carries a column named '_zb', which Z-order "
                "reserves for its bucket partitioning — rename it"
            )
        # Normalize EVERY cluster column to the full 16-bit width
        # before interleaving (Delta's range-id pass serves the same
        # purpose): raw interleave puts a narrow column's bits only in
        # the Morton key's LOW positions, so range-bucketing the key
        # would cluster — and prune — exclusively on the widest
        # column. Equal-width min/max scaling keeps every column
        # represented in the high bits the buckets split on. One
        # 2·|cols|-scalar aggregate; NULLs map to the low edge.
        bits = 16
        bounds = df.agg(
            *[
                f
                for c in zorder_by
                for f in (
                    F.min(F.col(c).cast("long")).alias(f"_lo_{c}"),
                    F.max(F.col(c).cast("long")).alias(f"_hi_{c}"),
                )
            ]
        ).collect()[0]
        norms = []
        for c in zorder_by:
            clo = int(bounds[f"_lo_{c}"] or 0)
            cspan = max(1, int(bounds[f"_hi_{c}"] or 0) - clo + 1)
            norms.append(
                F.floor(
                    (
                        F.coalesce(F.col(c).cast("long"), F.lit(clo))
                        - F.lit(clo)
                    ).cast("double")
                    / F.lit(float(cspan))
                    * F.lit(float(1 << bits))
                ).cast("long")
            )
        zdf = df.withColumn("_z", zvalue(norms, bits=bits))
        lo, hi = zdf.agg(F.min("_z"), F.max("_z")).collect()[0]
        if lo is None:
            return basis  # no rows: nothing to cluster
        span = max(1, int(hi) - int(lo) + 1)
        nb = max(1, min(zorder_buckets or n_target, span))
        bucket = F.least(
            F.lit(nb - 1),
            F.floor(
                (F.col("_z") - F.lit(int(lo))).cast("double")
                / F.lit(float(span))
                * F.lit(nb)
            ),
        ).cast("long")
        commit_dir = os.path.join(
            table_path, _DATA_DIR, f"c{uuid.uuid4().hex[:12]}"
        )
        (
            zdf.withColumn("_zb", bucket)
            .repartition(nb, "_zb")
            .sortWithinPartitions("_zb", "_z")
            .drop("_z")
            .write.partitionBy("_zb")
            .parquet(commit_dir)
        )
        rel = os.path.relpath(commit_dir, table_path)
        subs = sorted(
            s for s in st.listdir(commit_dir) if s.startswith("_zb=")
        )
        new_rels = [f"{rel}/{s}" for s in subs]
        stats_cols = sorted(set(tracked) | set(zorder_by))
        # every bucket's [min, max] in ONE grouped pass over the
        # partition-discovered write (vs one read-back job per bucket
        # — at real bucket counts that was O(buckets) full re-reads)
        by_bucket = {
            f"_zb={r['_zb']}": _ranges_of(r, stats_cols)
            for r in spark.read.parquet(commit_dir)
            .groupBy("_zb")
            .agg(*_range_aggs(stats_cols))
            .collect()
        }
        dir_stats = {
            f"{rel}/{s}": by_bucket.get(s, {}) for s in subs
        }
        return commit(
            spark,
            None,
            table_path,
            mode="replace",
            expected_parent=basis,
            store=st,
            _dirs=new_rels,
            _rebase=True,
            _dir_stats=dir_stats,
            _schema=df.schema,
            _written={r: df.schema for r in new_rels},
        )
    if n_target >= n_files:
        return basis
    return commit(
        spark,
        df.repartition(n_target),
        table_path,
        mode="replace",
        expected_parent=basis,
        store=st,
        stats_cols=tracked or None,
        _rebase=True,
    )


def _scan_size(df: DataFrame) -> tuple[int, int]:
    """(file count, total bytes) of a plain parquet scan, answered by
    its file index — the listing Spark already holds to plan the scan —
    instead of a Spark job over the hidden ``_metadata`` columns."""
    index = df._jdf.queryExecution().analyzed().relation().location()
    return len(df.inputFiles()), int(index.sizeInBytes())


def clone_table(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    version: int | None = None,
    store: ManifestStore | None = None,
) -> int:
    """SHALLOW CLONE (Delta ``CREATE TABLE ... SHALLOW CLONE``): start
    a new table at ``dst_path`` whose first commit references the
    source version's data directories by ABSOLUTE path — zero data
    copied, instant however large the source. Data-skipping stats come
    along (re-keyed to the absolute entries). The clone then lives its
    own life: appends land under the clone's own data root; merge/
    delete copy-on-write REWRITE touched source dirs INTO the clone
    (``_dir_tokens`` attributes rows to absolute entries), never
    touching the source; ``optimize_table`` deep-copies it entirely.

    The Delta shallow-clone caveat applies when tables are addressed
    by raw path: ``vacuum`` on the SOURCE does not know about clone
    references and can delete directories the clone still needs —
    deep-copy first (optimize the clone) if the source's retention is
    shorter than the clone's life. Registering both tables in a
    :class:`~.table_catalog.SnapshotCatalog` and vacuuming with
    ``vacuum(..., catalog=cat)`` closes the foot-gun: borrowed dirs
    are preserved while any cataloged table's retained manifests
    reference them. ``vacuum`` on the CLONE only sweeps the clone's
    own data root, so it never deletes source data.

    CDC: the clone commit reads as a truncate-and-reload of the cloned
    content (like restore/overwrite) when it replaces an existing
    table at ``dst_path``; for a fresh dst it is simply version 0."""
    st = _store(store)
    st.check_path(src_path)
    st.check_path(dst_path)
    version = _resolve_version(src_path, st, version)
    m = _load_manifest(src_path, version, st)
    root = (
        os.path.abspath(src_path) if "://" not in src_path else src_path
    )
    abs_dirs = [os.path.join(root, d) for d in m["dirs"]]
    abs_stats = {
        os.path.join(root, d): s
        for d, s in m.get("stats", {}).items()
        if d in set(m["dirs"])
    }
    return commit(
        spark,
        None,
        dst_path,
        mode="overwrite",
        store=st,
        _op="clone",
        _dirs=abs_dirs,
        _dir_stats=abs_stats,
        _extra_manifest={
            "cloned_from": src_path,
            "clone_version": version,
            # explicit None when the source never recorded a schema:
            # overrides commit's parent-schema carry, which would be
            # the DESTINATION's shape, not the cloned content's
            "schema": m.get("schema"),
        },
    )


def _missing_data_dirs(
    table_path: str, dirs: list[str], st: ManifestStore
) -> list[str]:
    """Referenced data directories that no longer exist. Local paths
    (including a clone's absolute local source dirs) check
    ``os.path.isdir``; ``scheme://`` paths ask the store — a dir exists
    iff its name appears in ``listdir`` of its parent (object stores
    surface "directories" as list-prefix names). Parents are listed
    ONCE however many dirs they hold — catalog-sized driver work."""
    missing: list[str] = []
    by_parent: dict[str, list[tuple[str, str]]] = {}
    for d in dirs:
        full = os.path.join(table_path, d)
        if "://" not in full:
            if not os.path.isdir(full):
                missing.append(d)
            continue
        full = full.rstrip("/")
        by_parent.setdefault(os.path.dirname(full), []).append(
            (d, os.path.basename(full))
        )
    for parent, entries in by_parent.items():
        names = set(st.listdir(parent))
        missing.extend(d for d, base in entries if base not in names)
    return missing


def restore_table(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    store: ManifestStore | None = None,
    timestamp=None,
) -> int:
    """RESTORE the table to an old ``version`` by publishing that
    version's directory list as a NEW head commit — Delta's
    ``RESTORE TABLE ... TO VERSION AS OF`` semantics: a restore is a
    forward-moving commit (history keeps recording what happened; the
    bad versions stay time-travelable until vacuumed), never a log
    rewind. Zero data movement — the restored directories are carried
    by reference, and their data-skipping stats come back with them.

    The target version's manifest must still be retained (a vacuumed
    version raises ``ManifestMissingError``) and its directories are
    validated to still exist — restoring past a vacuum horizon fails
    loudly at restore time, not at first read. Local data roots are
    checked with ``os.path.isdir``; non-local (``scheme://``) roots
    through ``ManifestStore.listdir`` of each referenced dir's parent,
    so an S3-backed table gets the same fail-fast (S3 "directories"
    surface as list-prefix names).

    CDC: ``read_changes`` treats a restore like the overwrite it
    logically is — every pre-restore row a delete, every restored row
    an insert (the truncate-and-reload delta) — so a downstream view
    folds back to the restored state without special cases.

    Concurrency: pinned to the head it read (``expected_parent``), so
    a commit racing the restore raises instead of being silently
    discarded from history's new tip."""
    st = _store(store)
    st.check_path(table_path)
    if version is None and timestamp is None:
        raise ValueError("restore_table needs a version or timestamp")
    version = _resolve_version(table_path, st, version, timestamp)
    basis = _resolve_version(table_path, st)
    m = _load_manifest(table_path, version, st)
    missing = _missing_data_dirs(table_path, m["dirs"], st)
    if missing:
        raise ValueError(
            f"cannot restore {table_path!r} to version {version}: "
            f"data directories vacuumed: {missing}"
        )
    return commit(
        spark,
        None,
        table_path,
        mode="overwrite",
        expected_parent=basis,
        store=st,
        _op="restore",
        _dirs=list(m["dirs"]),
        _dir_stats=m.get("stats", {}),
        _extra_manifest={
            "restored_from": version,
            # explicit None when the restored version predates schema
            # recording — the head's schema must not leak onto it
            "schema": m.get("schema"),
        },
    )


def history(
    table_path: str, store: ManifestStore | None = None
) -> list[dict]:
    """The commit log, oldest first: version, parent, op, n_dirs,
    ts_us (commit timestamp, micros; None for pre-timestamp logs)."""
    st = _store(store)
    latest = current_version(table_path, st)
    if latest is None:
        return []
    out = []
    for v in range(latest + 1):
        try:
            m = _load_manifest(table_path, v, st)
        except ManifestMissingError:
            out.append({"version": v, "vacuumed": True})
            continue
        out.append(
            {
                "version": v,
                "parent": m["parent"],
                "op": m["op"],
                "n_dirs": len(m["dirs"]),
                "ts_us": m.get("ts_us"),
            }
        )
    return out


def _catalog_protected_dirs(
    table_path: str, catalog, st: ManifestStore
) -> set[str]:
    """Table-relative ``data/<name>`` entries of ``table_path`` that
    some OTHER cataloged table's retained manifests still reference by
    absolute path — the directories a shallow clone borrowed. Iterates
    every retained manifest of every cataloged table: catalog-sized
    driver work (manifests are KB), never data I/O."""
    root = os.path.abspath(table_path)
    data_root = os.path.join(root, _DATA_DIR)
    cat_store = getattr(catalog, "_store", None) or st
    protected: set[str] = set()
    for other in catalog.tables().values():
        if "://" not in other and os.path.abspath(other) == root:
            continue
        latest = current_version(other, cat_store)
        if latest is None:
            continue
        for v in range(latest + 1):
            try:
                m = _load_manifest(other, v, cat_store)
            except ManifestMissingError:
                continue
            for d in m["dirs"]:
                if "://" in d:
                    continue
                full = (
                    d
                    if os.path.isabs(d)
                    else os.path.join(os.path.abspath(other), d)
                )
                full = os.path.abspath(full)
                if os.path.dirname(full) == data_root:
                    protected.add(
                        os.path.join(_DATA_DIR, os.path.basename(full))
                    )
    return protected


def vacuum(
    table_path: str,
    keep_last: int = 1,
    store: ManifestStore | None = None,
    catalog=None,
) -> list[str]:
    """Physically delete data directories unreferenced by the newest
    ``keep_last`` manifests, and drop the older manifests. Returns the
    deleted directory names. Time travel to vacuumed versions raises;
    retained versions are untouched — the deletion set is computed
    from what the RETAINED manifests reference, never from age or
    naming conventions. Merge commits' CDC change sets (``_changes/``)
    follow their manifest: a dropped version's change set goes with it,
    a retained version's feed stays readable. Data deletion is the
    DATA plane (POSIX here; Hadoop FS on a cluster) — only the
    manifest ops go through the store.

    ``catalog``: pass a :class:`~.table_catalog.SnapshotCatalog` to
    make the sweep CLONE-AWARE — directories that any OTHER cataloged
    table's retained manifests reference by absolute path (what a
    shallow clone borrows from its source) are PRESERVED even when
    this table's own retained manifests no longer reference them,
    closing the Delta shallow-clone data-loss foot-gun. Without a
    catalog the Delta caveat applies verbatim (the source cannot know
    about clones). A fresh shallow clone with no local data root of
    its own vacuums cleanly (manifest-only result)."""
    import shutil

    st = _store(store)
    st.check_path(table_path)
    if "://" in table_path:
        raise ValueError(
            "vacuum's physical data deletion requires a local data "
            f"root; got {table_path!r}"
        )
    latest = current_version(table_path, st)
    if latest is None:
        return []
    keep_versions = [
        v
        for v in range(max(0, latest - keep_last + 1), latest + 1)
        if st.get(_manifest_path(table_path, v)) is not None
    ]
    referenced: set[str] = set()
    kept_changes: set[str] = set()
    for v in keep_versions:
        m = _load_manifest(table_path, v, st)
        referenced.update(m["dirs"])
        if "change_dir" in m:
            kept_changes.add(m["change_dir"])
    if catalog is not None:
        referenced |= _catalog_protected_dirs(table_path, catalog, st)
    data_root = os.path.join(table_path, _DATA_DIR)
    removed = []
    # a fresh shallow clone never created its own data root — its only
    # commit references absolute source dirs; sweep nothing
    for d in sorted(os.listdir(data_root)) if os.path.isdir(data_root) else []:
        rel = os.path.join(_DATA_DIR, d)
        if rel in referenced:
            continue
        # a Z-ordered commit's manifest references per-bucket
        # SUBdirectories (data/cX/_zb=i): the parent dir is live while
        # any bucket is referenced — sweep only its unreferenced
        # buckets, never the parent wholesale
        nested = [r for r in referenced if r.startswith(rel + os.sep)]
        if not nested:
            shutil.rmtree(os.path.join(data_root, d))
            removed.append(rel)
            continue
        for sub in sorted(os.listdir(os.path.join(data_root, d))):
            relsub = os.path.join(rel, sub)
            full = os.path.join(data_root, d, sub)
            if os.path.isdir(full) and relsub not in referenced:
                shutil.rmtree(full)
                removed.append(relsub)
    changes_root = os.path.join(table_path, _CHANGES_DIR)
    if os.path.isdir(changes_root):
        for d in sorted(os.listdir(changes_root)):
            rel = os.path.join(_CHANGES_DIR, d)
            if rel not in kept_changes:
                shutil.rmtree(os.path.join(changes_root, d))
                removed.append(rel)
    for v in range(0, keep_versions[0] if keep_versions else 0):
        st.delete(_manifest_path(table_path, v))
    return removed
