"""Atomic bucket commits — a manifest-pointer protocol (WAL analogue).

Reference: ``executor/wal.go`` (write-ahead log, commit records, crash
replay) and ``executor/writer.go`` protect marketstore's in-place file
mutation.  Parquet data files are immutable, so the equivalent
guarantee here reduces to atomic VISIBILITY: a reader must see a bucket
either entirely before or entirely after a commit, never mid-write.

Protocol (the Iceberg/Delta metadata-pointer pattern, without the
dependencies):

- Data files live under ``<bucket>/data/`` with commit-unique names;
  a data file is INVISIBLE until some manifest references it, so Spark
  jobs can write them without coordination.
- Each commit produces ``<bucket>/_manifests/<n>.json`` holding the
  exact relative file list, schema and ``partition_by`` of version
  ``n``.  The JSON is staged to a temp name, fsync'd, then published
  with ``os.link`` (:func:`link_manifest`) — atomic, and it FAILS with
  EEXIST if another writer claimed version ``n`` first.  That failure
  is the optimistic-concurrency retry point (Iceberg's compare-and-swap
  on the table pointer): re-read the current version, rebuild the file
  set, try ``n+1``.  A commit that names no ``partition_by`` keeps the
  current manifest's, so only ``write_bucket_store`` chooses a layout.
- The current version is simply the highest manifest present, and a
  bucket exists exactly when it has one.  A crash at ANY earlier point
  leaves orphan data files / temp manifests — swept by :func:`vacuum`
  — and never a partially-visible bucket.
- Every manifest carries ``streams``, ``{sink id: last batch id}`` for
  each streaming sink that committed into the bucket
  (``streaming/writer.append_sink``; Delta's ``txnAppId``/``txnVersion``),
  and every commit, append or replace, carries it forward.  A sink
  replaying a batch at or below its marker publishes nothing, so a
  crash between a publish and the stream's own offset commit cannot
  append the batch twice.

Append commits cost O(new files): the new manifest is old-list ∪ new
files.  Replace commits (compact, and ``Catalog._replace_where`` behind
delete_range and the ondiskagg upsert, which drops a predicate's rows
and unions in new ones in one commit) publish only the rewritten set;
superseded data files linger until ``vacuum``, so a concurrent reader
that already planned version ``n`` keeps a complete snapshot (snapshot
isolation, and time travel for free via ``version=``).

At 100 TB this is exactly the production shape: executors write data
files in parallel with no renames of data (object-store friendly), and
the only serialized step is a single small metadata publish.

Compatibility note (SURVEY §7.11): the protocol is deliberately
isomorphic to Delta Lake / Iceberg — manifest ≙ _delta_log commit,
os.link CAS ≙ log-store putIfAbsent, base_version conflict handling ≙
OCC commit validation, vacuum retention ≙ VACUUM RETAIN, and the hive
``col=value`` relative paths double as Delta add-action partition
values.  Migrating a deployment to delta-spark is a two-call-site swap
(read_bucket/commit_write); data files need no rewrite because they
are already immutable, uniquely named, and hive-partitioned
(``CONVERT TO DELTA`` adopts them in place).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

MANIFEST_DIR = "_manifests"
DATA_DIR = "data"
_STAGE_PREFIX = ".stage-"

#: Default grace period before vacuum sweeps staging dirs / orphan data
#: files (Delta-style retention).  A writer between ``stage_files`` and
#: ``publish`` owns files no manifest references yet; sweeping them
#: instantly would let a concurrent vacuum destroy an in-flight commit.
DEFAULT_VACUUM_MIN_AGE_S = 3600.0

_UNSET = object()


class CommitConflictError(RuntimeError):
    """A replace commit's base snapshot was invalidated by a concurrent
    replace/delete (Iceberg/Delta-style optimistic-concurrency
    conflict).  Pure concurrent APPENDS are not a conflict: their files
    are merged into the replacement (snapshot-isolation semantics — the
    replace applies to the rows it saw; appended rows survive)."""


def _manifest_dir(bucket: str) -> str:
    return os.path.join(bucket, MANIFEST_DIR)


def current_version(bucket: str) -> int | None:
    """Highest published manifest id, or None when there is no bucket."""
    mdir = _manifest_dir(bucket)
    if not os.path.isdir(mdir):
        return None
    versions = [
        int(f[:-5])
        for f in os.listdir(mdir)
        if f.endswith(".json") and f[:-5].isdigit()
    ]
    return max(versions) if versions else None


def read_manifest(bucket: str, version: int) -> dict:
    with open(os.path.join(_manifest_dir(bucket), f"{version:012d}.json")) as fh:
        return json.load(fh)


def data_files(bucket: str, version: int | None = None) -> list[str]:
    """Absolute paths of the files that make up ``version`` (default:
    current; none when there is no bucket)."""
    if version is None:
        version = current_version(bucket)
        if version is None:
            return []
    m = read_manifest(bucket, version)
    return [os.path.join(bucket, rel) for rel in m["files"]]


def _committed(manifest: dict, stream: tuple[str, int] | None) -> bool:
    """True when ``stream`` (sink id, batch id) is at or below the
    sink's marker in ``manifest``: that batch is already published."""
    if stream is None:
        return False
    sink, batch = stream
    return manifest.get("streams", {}).get(sink, -1) >= batch


def stage_files(
    df: DataFrame, bucket: str, partition_by: tuple[str, ...] | None = None
) -> tuple[list[str], str]:
    """Run the distributed write into a staging dir, then move the
    produced part-files under ``data/`` with a commit-unique prefix.
    The moves need no atomicity: nothing references these names until
    the manifest publishes.  Returns (relative file names, schema json).

    With ``partition_by``, the write is Hive-partitioned and each
    part-file keeps its ``col=value/...`` directory chain under
    ``data/`` — the manifest records partition-RELATIVE paths, so the
    partition values survive in the committed layout (Iceberg records
    them per manifest entry; here the hive path IS the record) and the
    read side can plan partition pruning from the explicit file list.
    """
    token = uuid.uuid4().hex[:12]
    stage = os.path.join(bucket, _STAGE_PREFIX + token)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(stage)
    ddir = os.path.join(bucket, DATA_DIR)
    os.makedirs(ddir, exist_ok=True)
    rels = []
    i = 0
    for r, dirs, fs in sorted(os.walk(stage)):
        dirs.sort()
        rel_dir = os.path.relpath(r, stage)
        for f in sorted(fs):
            if not f.endswith(".parquet"):
                continue
            sub = () if rel_dir == "." else (rel_dir,)
            rel = os.path.join(DATA_DIR, *sub, f"{token}-{i:05d}.parquet")
            os.makedirs(os.path.dirname(os.path.join(bucket, rel)), exist_ok=True)
            os.rename(os.path.join(r, f), os.path.join(bucket, rel))
            rels.append(rel)
            i += 1
    schema_json = df.schema.json()
    shutil.rmtree(stage, ignore_errors=True)
    return rels, schema_json


def _check_schema_compatible(base_json: str, new_json: str, bucket: str) -> None:
    """Appends must match the bucket schema exactly (name → type).  An
    explicit-file-list scan takes the FIRST file's schema — a silently
    divergent append would drop or garble columns at read time, so
    reject it at commit time instead (the reference's writer enforces
    the bucket's column layout the same way: executor/writer.go)."""
    if not base_json or not new_json:
        return
    base = {f["name"]: f["type"] for f in json.loads(base_json)["fields"]}
    new = {f["name"]: f["type"] for f in json.loads(new_json)["fields"]}
    if base != new:
        diff = sorted(set(base.items()) ^ set(new.items()))
        raise ValueError(
            f"append schema does not match bucket {bucket!r}: {diff}"
        )


def _merge_replace_files(
    bucket: str, base_version: int | None, cur: int | None, new_files: list[str]
) -> list[str]:
    """A replace commit found the bucket advanced past its snapshot.
    If every intervening commit was a pure append (no file the base
    referenced has disappeared), merge: the replacement set plus the
    files appended since the snapshot.  Anything else — a concurrent
    replace/delete, or an unreconstructable base — is a conflict."""
    if base_version is None or cur is None:
        raise CommitConflictError(
            f"replace commit on {bucket!r}: bucket version changed from an "
            "unversioned/unknown base; cannot verify concurrent commits"
        )
    try:
        base_files = set(read_manifest(bucket, base_version)["files"])
    except FileNotFoundError as exc:
        raise CommitConflictError(
            f"replace commit on {bucket!r}: base version {base_version} was "
            "vacuumed away; cannot verify concurrent commits"
        ) from exc
    cur_files = set(read_manifest(bucket, cur)["files"])
    removed = base_files - cur_files
    if removed:
        raise CommitConflictError(
            f"replace commit on {bucket!r}: a concurrent replace/delete "
            f"removed {len(removed)} file(s) the base snapshot "
            f"(v{base_version}) referenced; rerun on the new snapshot"
        )
    return list(new_files) + sorted(cur_files - base_files)


def link_manifest(bucket: str, version: int, payload: str, crash_hook=None) -> bool:
    """The compare-and-swap: write ``payload`` to a temp name, fsync it,
    then ``os.link`` it to version ``version``'s manifest name, which
    is atomic and fails if that version exists.  Returns False when it
    does (another writer, or an earlier delivery, claimed it)."""
    mdir = _manifest_dir(bucket)
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex[:12]}")
    with open(tmp, "w") as fh:
        fh.write(payload)
        fh.flush()
        os.fsync(fh.fileno())
    if crash_hook is not None:
        crash_hook("pre_publish")
    try:
        os.link(tmp, os.path.join(mdir, f"{version:012d}.json"))
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def publish(
    bucket: str,
    new_files: list[str],
    schema_json: str,
    mode: str = "append",
    crash_hook=None,
    base_version: int | None = None,
    partition_by: tuple[str, ...] | None = None,
    stream: tuple[str, int] | None = None,
) -> int:
    """Atomically publish a new version.  ``mode='append'`` unions the
    current file list with ``new_files``; ``mode='replace'`` makes
    ``new_files`` the entire bucket.  Returns the published version.

    ``base_version`` (replace mode) is the version the replacement was
    computed FROM (None: the bucket had no version).  If the bucket
    advanced past it — a lost CAS or a slow writer — concurrent pure
    appends are merged into the new manifest and anything else raises
    :class:`CommitConflictError`; silently publishing only
    ``new_files`` would drop the concurrently appended rows (the
    classic lost update).

    ``stream`` is the (sink id, batch id) a streaming sink commits; it
    becomes the sink's marker, and a batch already at or below the
    marker publishes nothing and returns the current version.  Every
    other sink's marker is carried forward unchanged.

    ``crash_hook(point)`` is a fault-injection seam for the crash tests
    (points: 'pre_publish') — production callers leave it None.
    """
    while True:
        cur = current_version(bucket)
        base = {} if cur is None else read_manifest(bucket, cur)
        if _committed(base, stream):
            return cur
        if mode == "append":
            if cur is not None:
                _check_schema_compatible(base["schema"], schema_json, bucket)
                if tuple(base.get("partition_by") or ()) != tuple(partition_by or ()):
                    raise ValueError(
                        f"append partitioning {partition_by!r} does not match "
                        f"bucket {bucket!r}'s {base.get('partition_by')!r}"
                    )
                schema_json = schema_json or base["schema"]
            files = base.get("files", []) + list(new_files)
        elif cur != base_version:
            files = _merge_replace_files(bucket, base_version, cur, new_files)
        else:
            files = list(new_files)
        streams = dict(base.get("streams", {}))
        if stream is not None:
            streams[stream[0]] = stream[1]
        nxt = 0 if cur is None else cur + 1
        payload = json.dumps(
            {
                "version": nxt,
                "files": files,
                "schema": schema_json,
                "partition_by": list(partition_by or ()),
                "streams": streams,
            }
        )
        if link_manifest(bucket, nxt, payload, crash_hook):
            return nxt


def commit_write(
    df: DataFrame,
    bucket: str,
    mode: str = "append",
    crash_hook=None,
    base_version=_UNSET,
    partition_by: tuple[str, ...] | None = None,
    stream: tuple[str, int] | None = None,
) -> int:
    """Stage ``df`` and publish it in one call (the Catalog write path).

    Replace callers that computed ``df`` from an earlier snapshot should
    pass that snapshot's version as ``base_version`` so concurrent
    appends are detected (merged) rather than silently dropped.  No
    ``partition_by`` keeps the current manifest's layout.  A ``stream``
    batch already committed (see :func:`publish`) returns the current
    version before anything is staged."""
    os.makedirs(bucket, exist_ok=True)
    cur = current_version(bucket)
    base = {} if cur is None else read_manifest(bucket, cur)
    if _committed(base, stream):
        return cur
    if base_version is _UNSET and mode == "replace":
        # The caller's df was planned from the bucket no later than now;
        # capture the snapshot before staging (which can take minutes on
        # a big rewrite — plenty of time for a concurrent append).
        base_version = cur
    if partition_by is None and cur is not None:
        partition_by = tuple(base.get("partition_by") or ())
    rels, schema_json = stage_files(df, bucket, partition_by=partition_by)
    return publish(
        bucket,
        rels,
        schema_json,
        mode=mode,
        crash_hook=crash_hook,
        base_version=base_version,
        partition_by=partition_by,
        stream=stream,
    )


def read_bucket(
    spark: SparkSession, bucket: str, version: int | None = None
) -> DataFrame:
    """Plan a scan of the bucket's committed snapshot.  An explicit
    file list goes to the reader (not the directory), so half-staged
    data files are structurally invisible, and the manifest's schema
    goes with it, so planning opens no parquet footer and starts no
    Spark job (appends must match that schema exactly, see
    :func:`_check_schema_compatible`).

    Partitioned snapshots set ``basePath`` so the hive ``col=value``
    chains under ``data/`` come back as partition columns, typed by the
    committed schema (a string value like ``'007'`` stays a string) —
    filters on them prune files at PLANNING time exactly as a directory
    scan would, but against the committed file list."""
    if version is None:
        version = current_version(bucket)
        if version is None:
            raise FileNotFoundError(f"bucket {bucket!r} has no manifest")
    m = read_manifest(bucket, version)
    files = [os.path.join(bucket, rel) for rel in m["files"]]
    schema = StructType.fromJson(json.loads(m["schema"])) if m["schema"] else None
    if not files:
        return spark.createDataFrame([], schema)
    reader = spark.read if schema is None else spark.read.schema(schema)
    if not m.get("partition_by"):
        return reader.parquet(*files)
    df = reader.option("basePath", os.path.join(bucket, DATA_DIR)).parquet(*files)
    # an explicit schema puts partition columns last: restore the committed order
    return df if schema is None else df.select(*schema.fieldNames())


def vacuum(
    bucket: str,
    keep_versions: int = 1,
    min_age_seconds: float = DEFAULT_VACUUM_MIN_AGE_S,
) -> dict:
    """Remove data files no manifest in the kept window references,
    stale staging dirs, and temp manifests.  Safe after crashes: orphans
    are exactly the files no published manifest names.

    ``min_age_seconds`` is the Delta-style retention gate: staging dirs
    and unreferenced files younger than it are left alone, because a
    LIVE writer between ``stage_files`` and ``publish`` owns exactly
    such files — sweeping them would destroy its in-flight commit and
    let it publish a manifest pointing at deleted data.  Pass ``0`` only
    when no writer can be active (tests, single-writer maintenance)."""
    removed_files = 0
    now = time.time()

    def _old_enough(p: str) -> bool:
        try:
            return now - os.path.getmtime(p) >= min_age_seconds
        except OSError:  # raced with another vacuum / writer cleanup
            return False

    for entry in os.listdir(bucket):
        if entry.startswith(_STAGE_PREFIX) and _old_enough(
            os.path.join(bucket, entry)
        ):
            shutil.rmtree(os.path.join(bucket, entry), ignore_errors=True)
    cur = current_version(bucket)
    if cur is None:
        return {"removed_files": 0, "removed_manifests": 0}
    mdir = _manifest_dir(bucket)
    keep = set(range(max(0, cur - keep_versions + 1), cur + 1))
    live: set[str] = set()
    removed_manifests = 0
    for f in sorted(os.listdir(mdir)):
        if f.startswith(".tmp-"):
            if _old_enough(os.path.join(mdir, f)):
                os.unlink(os.path.join(mdir, f))
            continue
        if not (f.endswith(".json") and f[:-5].isdigit()):
            continue
        v = int(f[:-5])
        if v in keep:
            live.update(read_manifest(bucket, v)["files"])
        else:
            os.unlink(os.path.join(mdir, f))
            removed_manifests += 1
    empty_check: set[str] = set()
    for r, _, fs in os.walk(bucket):
        rel_root = os.path.relpath(r, bucket)
        if rel_root.split(os.sep, 1)[0] == MANIFEST_DIR:
            continue
        for f in fs:
            if not f.endswith(".parquet"):
                continue
            full = os.path.join(r, f)
            rel = os.path.relpath(full, bucket)
            if rel not in live and _old_enough(full):
                os.unlink(full)
                removed_files += 1
                empty_check.add(r)
    # Drop partition dirs the sweep emptied (cosmetic; bottom-up).
    for d in sorted(empty_check, reverse=True):
        while d != bucket and os.path.isdir(d) and not os.listdir(d):
            os.rmdir(d)
            d = os.path.dirname(d)
    return {"removed_files": removed_files, "removed_manifests": removed_manifests}
