"""Versioned table snapshots with time travel — a minimal table format.

[absent in reference — north-star extension] The reference persists one
mutable JSON file (`SemanticDatabase.cs:508-526`); production pipelines
need Iceberg/Delta-style semantics: immutable snapshot versions, an
atomically-committed pointer to the latest, reads of any historical
version, and version-to-version diffs. This module implements the
minimal honest core of that contract on a plain filesystem:

  layout:  <table>/v=<n>/ ...parquet...   (immutable once committed)
           <table>/_latest.json           ({"version": n}, atomic rename)

Every path under ``<table>/`` is built by the layout functions below
(see the "on-disk layout" block); no other module spells a file or
directory name of this layout.

Scale notes: data files are written ONCE and never rewritten — a commit
is one tiny manifest rename, so writers never block readers and a reader
holding version n is immune to later commits (no read-write races, the
same guarantee real table formats get from their manifest trees). On an
object store, swap the rename for a conditional PUT / DynamoDB-style
pointer — the layout is unchanged. History retention is explicit
(`expire_versions`), mirroring VACUUM/expire-snapshots.

Concurrency (round 9): commits are OPTIMISTIC, the Delta/Iceberg
contract. Every writer stages its files under ``_staged_<uuid>/``, then
publishes inside a short pointer critical section: if the committed
latest still equals the version the writer planned against, the staged
directory renames to ``v=<n+1>`` and the pointer advances; if another
writer committed first, the loser raises :class:`CommitConflictError`
(retryable — re-read, re-apply, re-commit) and its staging is removed.
Bucketed tables additionally REBASE instead of failing when the
concurrent commits touched DISJOINT bucket sets (compared over both
bucket ownership and deletion-vector lists) AND the winner left the
table metadata unchanged (schema / key_cols / constraints / generated /
colmap / retired_cols — a data commit never rebases over a concurrent
drop/rename/add_constraint it did not plan for; append-only schema
widening is the one tolerated divergence, merged losslessly): the later
writer's manifest is rebuilt on top of the winner's, so both commits
land — the same file-level conflict granularity Delta resolves. Crash contract is
unchanged: a writer dying before publish leaves an invisible
``_staged_*`` orphan (age-reclaimed by the expire functions), never a
torn read.
"""

from __future__ import annotations

import copy
import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

_LATEST = "_latest.json"
_LOCK = "_commit.lock"
_STAGED_PREFIX = "_staged_"
_VERSION_PREFIX = "v="
_BUCKET_PREFIX = "__bucket="
_DV = "__dv"
_HIDDEN_SPEC = "_hidden_spec.json"
_ZKEY = "__zkey"  # Morton-key column an indexed OPTIMIZE ZORDER sorts buckets by


class ConstraintViolationError(ValueError):
    """A commit carried rows that violate a table CHECK constraint —
    nothing was published (Delta CHECK-constraint semantics: the
    expression must not evaluate to FALSE; NULL passes)."""


class CommitConflictError(RuntimeError):
    """The committed latest moved between this writer's snapshot read and
    its commit attempt (another writer won the race). Retryable: re-read
    the table, re-apply the change, commit again — same contract as
    Delta's ConcurrentModificationException family."""


# --- on-disk layout: every path under <table>/ is built here -------------
#
#   <table>/_latest.json               pointer          current_version
#   <table>/_manifest_v<n>.json        bucket manifest  _read_manifest
#   <table>/_hidden_spec.json          hidden spec      hidden._read_meta
#   <table>/v=<n>/                     snapshot         _version_dir
#   <table>/v=<n>/__bucket=<b>/        bucket data      _bucket_dir
#   <table>/v=<n>/__dv/__bucket=<b>/   deletion keys    _dv_dir
#   <table>/v=<n>/_zonemaps.json       zone maps        skipping._manifest_path


def _latest_path(table: str) -> str:
    return os.path.join(table, _LATEST)


def _hidden_spec_path(table: str) -> str:
    return os.path.join(table, _HIDDEN_SPEC)


def _version_dir(table: str, version: int) -> str:
    return os.path.join(table, f"{_VERSION_PREFIX}{version}")


def _bucket_dir(root: str, bucket) -> str:
    """Bucket ``bucket``'s directory under ``root``: a version directory,
    a staged commit, or a deletion-vector root (:func:`_dv_dir`)."""
    return os.path.join(root, f"{_BUCKET_PREFIX}{bucket}")


def _dv_dir(root: str) -> str:
    """The deletion-vector root under a version (or staged) directory;
    each bucket's DV keys sit in ``_bucket_dir(_dv_dir(root), b)``."""
    return os.path.join(root, _DV)


def _written_buckets(root: str) -> "set[int]":
    """The buckets that have a directory under ``root`` (empty if absent)."""
    if not os.path.isdir(root):
        return set()
    return {
        int(d[len(_BUCKET_PREFIX):])
        for d in os.listdir(root)
        if d.startswith(_BUCKET_PREFIX)
    }


def _live_bucket_dirs(
    table: str, man: dict, buckets: "set[int] | None" = None
) -> "dict[int, str]":
    """``{bucket: owning directory}`` of a manifest's live buckets in
    bucket order, optionally restricted to ``buckets``."""
    return {
        int(b): _bucket_dir(_version_dir(table, owner), b)
        for b, owner in sorted(man["buckets"].items(), key=lambda kv: int(kv[0]))
        if owner is not None and (buckets is None or int(b) in buckets)
    }


def _data_files(root: str) -> list[str]:
    """All data files under ``root`` recursively, skipping `_`/`.`
    metadata and the deletion-vector subtree."""
    out = []
    for cur, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if d != _DV and not d.startswith((".", "_"))
                   or d.startswith("_p")]  # hidden-partition dirs are _p<i>=...
        for f in files:
            if not f.startswith((".", "_")):
                out.append(os.path.join(cur, f))
    return sorted(out)


def _files_schema(root: str):
    """The schema of the first data file under ``root``."""
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import from_arrow_schema

    files = _data_files(root)
    if not files:
        raise FileNotFoundError(f"{root} has no data files")
    return from_arrow_schema(pq.read_schema(files[0]))


def _snapshot_schema(table: str, version: int):
    """Schema of snapshot ``version``: its manifest's, or else its first
    data file's (plain and hidden-partitioned snapshots)."""
    man = _manifest_or_none(table, version)
    if man is not None:
        return _manifest_schema(man)
    return _files_schema(_version_dir(table, version))


def _write_pointer(table: str, version: int) -> None:
    tmp = _latest_path(table) + ".__tmp__"
    with open(tmp, "w") as f:
        json.dump({"version": version}, f)
    os.replace(tmp, _latest_path(table))
    _record_commit_ts(table, version)


def _commit_ts_path(table: str) -> str:
    return os.path.join(table, "_commit_ts.json")


def _record_commit_ts(table: str, version: int) -> None:
    """Record the commit wall-clock time as SIDE metadata — the timestamp
    never enters any version's data or manifest (query outputs stay
    deterministic for the oracles); it exists solely so ``as_of_ts`` time
    travel can resolve a timestamp to a version driver-side. Runs inside
    the pointer critical section (called from ``_write_pointer``), so the
    read-modify-write is single-writer. A crash between the pointer
    rename and this record leaves a version unresolvable by timestamp
    (still readable by number) — the conservative failure."""
    path = _commit_ts_path(table)
    try:
        with open(path) as f:
            m = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        m = {}
    m[str(version)] = time.time()
    tmp = path + ".__tmp__"
    with open(tmp, "w") as f:
        json.dump(m, f)
    os.replace(tmp, path)


def resolve_as_of(table: str, ts) -> int:
    """Timestamp → version: the NEWEST version committed at or before
    ``ts`` (Delta ``TIMESTAMP AS OF`` / Iceberg snapshot-as-of semantics
    — "read as of yesterday 09:00"). ``ts`` is epoch seconds, a
    ``datetime``, or an ISO-8601 string (naive strings are the local
    zone, matching ``time.time``'s clock). Raises when ``ts`` precedes
    the first recorded commit. Works for any table on the versioned
    layout — plain, bucketed, hidden-partitioned."""
    import datetime as _dt

    if isinstance(ts, str):
        ts = _dt.datetime.fromisoformat(ts).timestamp()
    elif isinstance(ts, _dt.datetime):
        ts = ts.timestamp()
    ts = float(ts)
    try:
        with open(_commit_ts_path(table)) as f:
            m = json.load(f)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"table {table} has no commit timestamps recorded (created "
            "before timestamp time travel, or never committed)"
        )
    eligible = [int(v) for v, t in m.items() if t <= ts]
    if not eligible:
        first = min(m.values())
        raise ValueError(
            f"as_of_ts={ts} precedes the first recorded commit of {table} "
            f"(epoch {first}); there is no version to read"
        )
    return max(eligible)


def _staged_path(table: str) -> str:
    return os.path.join(table, _STAGED_PREFIX + uuid.uuid4().hex)


def _pointer_lock(table: str, timeout: float = 60.0):
    """Filesystem mutex around the check-pointer-then-rename critical
    section — the local-FS stand-in for an object store's conditional
    PUT. The mechanism (``flock`` on a persistent, never-unlinked lock
    file — kernel-released on holder death, so no stale-lock breaking
    step and none of its TOCTOU races) lives in
    :func:`semantic_index_spark.locking.flock_mutex`, shared with the
    ANN index layouts' commit locks."""
    from semantic_index_spark.locking import flock_mutex

    return flock_mutex(os.path.join(table, _LOCK), timeout=timeout)


def current_version(table: str) -> int | None:
    """Committed latest version, or None for an empty table."""
    try:
        with open(_latest_path(table)) as f:
            return int(json.load(f)["version"])
    except FileNotFoundError:
        return None


def _resolve_version(table: str, version: "int | None" = None) -> int:
    """``version``, or the committed latest when None; raises for a table
    with no commits."""
    v = current_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"versioned table {table} has no commits")
    return v


def _publish_staged(
    table: str, staged: str, expected: "int | None", before_pointer=None
) -> int:
    """The optimistic-commit tail every snapshot writer shares: inside the
    pointer critical section, verify the committed latest still equals
    ``expected`` (the version this commit was planned against), rename the
    staged layout to ``v=<n+1>`` and advance the pointer. A concurrent
    winner fails the loser with retryable :class:`CommitConflictError`
    and the staging is removed."""
    with _pointer_lock(table):
        cur = current_version(table)
        if cur != expected:
            shutil.rmtree(staged, ignore_errors=True)
            raise CommitConflictError(
                f"cannot commit to {table}: expected latest version "
                f"{expected}, found {cur} — a concurrent writer committed "
                "first; re-read and retry"
            )
        nxt = 0 if cur is None else cur + 1
        os.rename(staged, _version_dir(table, nxt))
        if before_pointer is not None:
            before_pointer(nxt)  # e.g. the version's zone-map manifest
        _write_pointer(table, nxt)
    return nxt


_OBSERVED = object()  # sentinel: condition on the version seen at entry


def commit_version(
    df: DataFrame, table: str, expected_version: "int | None | object" = _OBSERVED
) -> int:
    """Write the next immutable snapshot version and atomically commit the
    latest-pointer. Returns the new version number.

    The commit is CONDITIONAL on ``expected_version`` — the version this
    snapshot was derived from (``None`` = the table must still be empty;
    default = whatever was committed when this call started). If another
    writer advanced the pointer in between, :class:`CommitConflictError`
    is raised and nothing is published — the optimistic-concurrency
    contract real table formats enforce; last-writer-wins pointer
    clobbering cannot happen. Data is staged under ``_staged_<uuid>`` and
    renamed into ``v=<n>`` only inside the pointer critical section, so a
    crash at ANY point leaves either an invisible staged orphan or an
    invisible v-orphan (both age-reclaimed by ``expire_versions``) —
    never a torn read."""
    os.makedirs(table, exist_ok=True)
    expected = (
        current_version(table) if expected_version is _OBSERVED else expected_version
    )
    staged = _staged_path(table)
    df.write.mode("errorifexists").parquet(staged)
    return _publish_staged(table, staged, expected)


def read_version(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    as_of_ts=None,
) -> DataFrame:
    """Time travel: read the committed latest (default), any retained
    historical version by number, or — ``as_of_ts`` — the version that was
    latest at a wall-clock time (``TIMESTAMP AS OF``; see
    :func:`resolve_as_of` for accepted forms). Each version is read under
    its own schema, so a later schema-evolving merge never leaks added
    columns into historical reads."""
    if as_of_ts is not None:
        if version is not None:
            raise ValueError("pass version OR as_of_ts, not both")
        version = resolve_as_of(table, as_of_ts)
    v = _resolve_version(table, version)
    path = _version_dir(table, v)
    if not os.path.isdir(path):
        raise FileNotFoundError(
            f"version {v} of {table} does not exist (expired or never committed)"
        )
    return spark.read.parquet(path)


def list_versions(table: str) -> list[int]:
    """Retained snapshot versions, ascending (committed or orphaned)."""
    if not os.path.isdir(table):
        return []
    n = len(_VERSION_PREFIX)
    return sorted(
        int(d[n:])
        for d in os.listdir(table)
        if d.startswith(_VERSION_PREFIX) and d[n:].isdigit()
    )


def expire_versions(
    table: str, keep_last: int = 2, orphan_ttl_seconds: float = 24 * 3600.0
) -> list[int]:
    """Retention: drop all but the newest ``keep_last`` committed versions
    (never the committed latest — ``keep_last`` must be >= 1; 0 would
    otherwise slice as ``[-0:]`` and silently keep everything). Returns
    the expired version numbers.

    Orphan versions NEWER than the committed pointer are reclaimed only
    once older than ``orphan_ttl_seconds`` (by directory mtime): a young
    v-directory past the pointer is indistinguishable from a concurrent
    writer's in-flight ``commit_version`` — deleting it eagerly would
    destroy that commit between its parquet write and pointer rename,
    not just clean up crash leftovers. ``_staged_*`` directories (crashed
    writers that never reached the critical section) are reclaimed under
    the same age gate. Same contract as Iceberg/Delta orphan-file
    removal, which is likewise age-gated."""
    import time

    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    _reclaim_staged(table, orphan_ttl_seconds)
    cur = current_version(table)
    keep = set()
    committed = [v for v in list_versions(table) if cur is not None and v <= cur]
    keep.update(committed[-keep_last:])
    now = time.time()
    expired = []
    for v in list_versions(table):
        if v in keep:
            continue
        path = _version_dir(table, v)
        if cur is not None and v > cur:
            try:
                age = now - os.path.getmtime(path)
            except OSError:
                continue  # vanished underneath us — a concurrent committer
            if age < orphan_ttl_seconds:
                continue
        shutil.rmtree(path)
        expired.append(v)
    return expired


def _link_tree(src: str, dst: str) -> None:
    """Mirror ``src`` under ``dst`` with hardlinks (copy fallback for
    cross-device) — O(files) metadata operations, zero bytes copied, and
    deletion-safe: every directory holds its own link, so expiring either
    side never strands the other. An object-store port would copy by
    reference (server-side copy / manifest pointer) instead."""
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        out = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(out, exist_ok=True)
        for name in files:
            s, d = os.path.join(root, name), os.path.join(out, name)
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)


def restore_version(table: str, to_version: int) -> int:
    """Delta ``RESTORE TABLE ... TO VERSION AS OF`` on a plain snapshot
    table: publish a NEW version whose content is the retained historical
    snapshot — a rollback that moves the table FORWARD, so history (and
    time travel past the bad commits) is preserved and the restore itself
    is visible in the commit log. The snapshot's files are hardlinked,
    not rewritten (see :func:`_link_tree`), making a restore O(files)
    metadata work at any table size. Conditional on the pointer not
    moving (the standard OCC contract); restoring to the current version
    is allowed and commits an explicit no-op rollback point."""
    cur = _resolve_version(table)
    src = _version_dir(table, to_version)
    if not os.path.isdir(src):
        raise FileNotFoundError(
            f"version {to_version} of {table} does not exist (expired or "
            "never committed) — cannot restore"
        )
    staged = _staged_path(table)
    _link_tree(src, staged)
    if not os.path.isdir(src):
        # a concurrent expire_versions removed the target mid-link: the
        # walk may have seen a partial (or empty) tree — committing it
        # would publish a silently truncated snapshot. Fail loud instead.
        shutil.rmtree(staged, ignore_errors=True)
        raise FileNotFoundError(
            f"version {to_version} of {table} was expired concurrently "
            "during the restore — nothing was committed"
        )
    return _publish_staged(table, staged, cur)


def clone_table(src_table: str, dst_table: str, version: int | None = None) -> int:
    """Delta-style CLONE: create ``dst_table`` as an independent versioned
    table whose v=0 is ``src_table``'s snapshot at ``version`` (default
    latest). Files are hardlinked (:func:`_link_tree`) — shallow-clone
    cost with deep-clone independence: either table can be written,
    restored, or expired afterwards without affecting the other (each
    directory owns its links). Works for plain snapshot tables AND
    bucketed/hidden tables (their manifest, if any, is carried over with
    the version renumbered to 0 so the clone's read path is
    self-contained). Concurrency-safe: files stage under a unique
    ``_staged_*`` directory and publish by a single rename inside the
    destination's pointer critical section — two racing clones cannot
    interleave their files into one mixed ``v=0``; a source version (or
    bucket dir) expired mid-link fails loud rather than publishing a
    truncated clone. A bucketed clone publishes as a create whose manifest
    edit is the renumbered source manifest."""
    src_cur = _resolve_version(src_table)
    v = src_cur if version is None else version
    if os.path.exists(_latest_path(dst_table)):
        raise FileExistsError(f"clone target {dst_table} already exists")
    man = _manifest_or_none(src_table, v)
    os.makedirs(dst_table, exist_ok=True)
    # hidden-partitioned tables carry their transform spec as a side file —
    # the clone needs it for its read path to be self-contained
    spec = _hidden_spec_path(src_table)
    if os.path.exists(spec):
        shutil.copy2(spec, _hidden_spec_path(dst_table))
    staged = _staged_path(dst_table)
    if man is None:
        src_dir = _version_dir(src_table, v)
        if not os.path.isdir(src_dir):
            raise FileNotFoundError(
                f"version {v} of {src_table} does not exist (expired?)"
            )
        _link_tree(src_dir, staged)
        if not os.path.isdir(src_dir):  # expired mid-link → partial tree
            shutil.rmtree(staged, ignore_errors=True)
            raise FileNotFoundError(
                f"version {v} of {src_table} was expired concurrently "
                "during the clone — nothing was published"
            )
    else:
        # bucketed/hidden: live buckets may be spread across many source
        # version dirs — consolidate them (and any referenced DV files)
        # under the clone's v=0 and renumber the manifest accordingly
        os.makedirs(staged, exist_ok=True)
        for b, bsrc in _live_bucket_dirs(src_table, man).items():
            _link_tree(bsrc, _bucket_dir(staged, b))
            if not os.path.isdir(bsrc):  # reclaimed mid-link
                shutil.rmtree(staged, ignore_errors=True)
                raise FileNotFoundError(
                    f"bucket {b} of {src_table} ({bsrc}) was reclaimed "
                    "concurrently during the clone — nothing was published"
                )
        # DV files for one bucket can live under SEVERAL source versions;
        # consolidate them under v=0 with version-prefixed file names so
        # same-named parquet parts never collide
        for b, versions in man.get("dv", {}).items():
            out = _bucket_dir(_dv_dir(staged), b)
            os.makedirs(out, exist_ok=True)
            for vv in versions:
                src_dv = _bucket_dir(_dv_dir(_version_dir(src_table, vv)), b)
                for name in os.listdir(src_dv):
                    s = os.path.join(src_dv, name)
                    # prefixing would UN-hide `.crc`/`_SUCCESS` sidecars —
                    # only data files carry over
                    if not os.path.isfile(s) or name.startswith((".", "_")):
                        continue
                    d = os.path.join(out, f"v{vv}_{name}")
                    try:
                        os.link(s, d)
                    except OSError:
                        shutil.copy2(s, d)
        # co-committed index shards consolidate under v=0 exactly like
        # buckets — the clone's serve path must be self-contained; each
        # index's artifact directory is name/kind-specific (round 12)
        if _indexes(man):
            from semantic_index_spark.sources.indexed import _idx_dir

            for iname, spec in _indexes(man).items():
                idx_dir = _idx_dir(iname, spec["params"])
                for b, owner in (spec.get("shards") or {}).items():
                    if owner is None:
                        continue
                    ssrc = os.path.join(
                        _version_dir(src_table, owner), idx_dir, f"shard={b}"
                    )
                    _link_tree(ssrc, os.path.join(staged, idx_dir, f"shard={b}"))
                    if not os.path.isdir(ssrc):  # reclaimed mid-link
                        shutil.rmtree(staged, ignore_errors=True)
                        raise FileNotFoundError(
                            f"index {iname!r} shard {b} of {src_table} "
                            f"({ssrc}) was reclaimed concurrently during "
                            "the clone — nothing was published"
                        )
        new_man = {
            k: v2 for k, v2 in man.items() if k not in ("version", "buckets", "dv")
        }
        new_man["buckets"] = {
            b: (0 if owner is not None else None)
            for b, owner in man["buckets"].items()
        }
        if man.get("dv"):
            new_man["dv"] = {b: [0] for b in man["dv"]}
        if _indexes(man):
            new_man.pop("index", None)  # legacy spec re-keys under indexes
            new_man["indexes"] = {
                iname: {
                    "params": dict(spec["params"]),
                    "shards": {
                        b: (0 if o is not None else None)
                        for b, o in spec["shards"].items()
                    },
                }
                for iname, spec in _indexes(man).items()
            }
    try:
        if os.path.exists(_version_dir(dst_table, 0)):  # a crashed writer's v=0
            raise CommitConflictError(dst_table)
        if man is None:
            _publish_staged(dst_table, staged, None)
        else:
            _publish_bucketed(
                dst_table, staged, None, (), lambda m, final, dest: m.update(new_man)
            )
    except CommitConflictError:
        shutil.rmtree(staged, ignore_errors=True)
        raise CommitConflictError(
            f"clone target {dst_table} was created concurrently"
        ) from None
    return 0


def retry_commit(fn, attempts: int = 3):
    """Run a commit closure, retrying on :class:`CommitConflictError` —
    the standard loser recovery for optimistic commits. ``fn`` must
    RE-READ the table on every attempt (every commit entry point here —
    ``commit_version`` default, ``merge_into``, ``merge_into_bucketed``,
    ``delete_bucketed``, ``optimize_bucketed`` — re-reads at call time,
    so ``retry_commit(lambda: merge_into_bucketed(...))`` is correct as
    written). Re-raises the conflict after ``attempts`` tries: livelock
    under genuine contention should surface, not spin."""
    if attempts < 1:
        raise ValueError(f"attempts must be >= 1, got {attempts}")
    for i in range(attempts):
        try:
            return fn()
        except CommitConflictError:
            if i == attempts - 1:
                raise


def _reclaim_staged(table: str, ttl_seconds: float) -> None:
    """Remove crashed writers' ``_staged_*`` orphans older than the TTL —
    a young one may be an in-flight commit."""
    if not os.path.isdir(table):
        return
    now = time.time()
    for d in os.listdir(table):
        if not d.startswith(_STAGED_PREFIX):
            continue
        path = os.path.join(table, d)
        try:
            if now - os.path.getmtime(path) >= ttl_seconds:
                shutil.rmtree(path, ignore_errors=True)
        except OSError:
            continue  # vanished underneath us — its writer finished


# --- bucketed incremental table: merge rewrites only touched key-buckets ---

def _manifest_path(table: str, version: int) -> str:
    return os.path.join(table, f"_manifest_v{version}.json")


def _read_manifest(table: str, version: int | None = None) -> dict:
    with open(_manifest_path(table, _resolve_version(table, version))) as f:
        return json.load(f)


def _manifest_or_none(table: str, version: int) -> "dict | None":
    """Version ``version``'s manifest, or None when it has none (plain and
    hidden-partitioned snapshots)."""
    try:
        return _read_manifest(table, version)
    except FileNotFoundError:
        return None


def _manifest_schema(man: dict):
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(man["schema"]))


def _manifest_fields(man: dict) -> dict:
    """``{name: field JSON}`` of the manifest's logical schema, in order."""
    return {f["name"]: f for f in json.loads(man["schema"])["fields"]}


#: Type-widening lattice (Delta ``typeWidening`` semantics): a column may
#: evolve along these chains without rewriting any file — the parquet
#: reader upcasts narrow file values under the wider read schema (int32
#: files read as bigint, float files as double, date32 as timestamp_ntz;
#: verified against the Spark 4 vectorized reader). Only LOSSLESS
#: promotions are listed; int→double is excluded (loses exactness above
#: 2^53), and keys never widen (the bucket hash is type-sensitive — a
#: widened key would re-hash every row to a different bucket). Decimal
#: lanes (round 12) are rule-based in :func:`_widens`: decimal(p,s) →
#: decimal(p',s') whenever the integer-digit budget and the scale both
#: grow-or-hold (p'−s' ≥ p−s, s' ≥ s — every value representable
#: exactly), and integral → decimal with enough integer digits for the
#: SOURCE'S PHYSICAL parquet width — ≥ 10 digits for the int32-backed
#: types (byte/short/int), ≥ 20 for long — the same floor Delta
#: enforces, because the vectorized reader's INT32→decimal conversion
#: refuses smaller precisions (probe-verified: decimal(5,0) fails,
#: decimal(10,0) reads).
_WIDEN_CHAINS = {
    "byte": ("short", "integer", "long"),
    "short": ("integer", "long"),
    "integer": ("long",),
    "float": ("double",),
    "date": ("timestamp_ntz",),
}

#: minimum integer digits a decimal needs to hold the integral type,
#: per its PHYSICAL parquet encoding (int32 family vs int64)
_INT_TO_DECIMAL_DIGITS = {"byte": 10, "short": 10, "integer": 10, "long": 20}

_DECIMAL_RE = re.compile(r"decimal\((\d+),(\d+)\)")


def _widens(frm, to) -> bool:
    """True when a column of type ``frm`` may evolve to type ``to``."""
    if not isinstance(frm, str) or not isinstance(to, str):
        return False
    if to in _WIDEN_CHAINS.get(frm, ()):
        return True
    m_to = _DECIMAL_RE.fullmatch(to)
    if not m_to:
        return False
    p2, s2 = int(m_to.group(1)), int(m_to.group(2))
    m_frm = _DECIMAL_RE.fullmatch(frm)
    if m_frm:
        p1, s1 = int(m_frm.group(1)), int(m_frm.group(2))
        return (p1, s1) != (p2, s2) and s2 >= s1 and p2 - s2 >= p1 - s1
    digits = _INT_TO_DECIMAL_DIGITS.get(frm)
    return digits is not None and p2 - s2 >= digits


def _schema_union_json(a_json: str, b_json: str) -> str:
    """Union of two schema JSONs by field name — ``a``'s fields in order
    (promoted to ``b``'s type where ``b`` holds a WIDER type on the
    lattice), then ``b``'s additions appended (the add-column-at-end
    evolution order Delta uses without column mapping). Applied on the
    disjoint-bucket REBASE path so two concurrent commits that each
    widened the schema lose neither's columns, and by ``diff_bucketed``
    so a version pair straddling a type widening reads both sides'
    files under the wider type."""
    a = json.loads(a_json)
    by_name = {f["name"]: f for f in a["fields"]}
    for f in json.loads(b_json)["fields"]:
        cur = by_name.get(f["name"])
        if cur is None:
            a["fields"].append(f)
            by_name[f["name"]] = f
        elif _widens(cur.get("type"), f.get("type")):
            cur["type"] = f["type"]
    return json.dumps(a)


def _indexes(man: "dict | None") -> dict:
    """The manifest's co-committed index specs as ``{name: {params,
    shards}}`` (round 12 — multi-index tables). A pre-r12 manifest's
    single anonymous ``index`` spec reads as ``{"__legacy__": spec}`` so
    time travel into history written under the old format keeps serving
    (its artifacts live under the kind directory, see
    ``indexed._idx_dir``)."""
    if not man:
        return {}
    if man.get("indexes"):
        return man["indexes"]
    if man.get("index"):
        return {"__legacy__": man["index"]}
    return {}


def _colmap(man: dict) -> dict:
    """Logical→physical column-name mapping (Delta column mapping).
    Empty until the first ``rename_column`` — physical names are frozen
    at column birth (the original logical name), so every data and DV
    file ever written stays readable by its physical name and a rename
    is a pure metadata commit."""
    return man.get("colmap") or {}


def _physical_schema_json(man: dict) -> str:
    s = json.loads(man["schema"])
    cm = _colmap(man)
    for f in s["fields"]:
        f["name"] = cm.get(f["name"], f["name"])
    return json.dumps(s)


def _to_physical(df: DataFrame, man: dict) -> DataFrame:
    """Rename logical columns to their frozen physical names for a staging
    write; columns outside the mapping (``__bucket`` et al.) pass through.
    No-op (same plan) when no rename ever happened."""
    import pyspark.sql.functions as F

    cm = _colmap(man)
    if not cm:
        return df
    return df.select(*[F.col(c).alias(cm.get(c, c)) for c in df.columns])


def _read_bucket_files(spark: SparkSession, man: dict, paths: list[str]) -> DataFrame:
    """Read bucket data files under the MANIFEST's schema rather than the
    files' own: after a schema-evolving merge, buckets untouched since the
    widening still hold old-schema files, and the explicit read schema
    makes the parquet reader null-fill their missing columns (Delta /
    Iceberg read-time evolution semantics) with no ``mergeSchema``
    footer-sampling job — at 100 TB, sampling every file footer to
    discover a schema the manifest already knows is pure waste. Files
    store PHYSICAL column names; the read projects them and aliases back
    to the manifest's logical names (identity until a rename exists)."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import StructType

    cm = _colmap(man)
    if not cm:
        return spark.read.schema(_manifest_schema(man)).parquet(*paths)
    phys = StructType.fromJson(json.loads(_physical_schema_json(man)))
    logical = list(_manifest_fields(man))
    return spark.read.schema(phys).parquet(*paths).select(
        *[F.col(cm.get(l, l)).alias(l) for l in logical]
    )


def _evolve_cols(source: DataFrame, existing, drop: list[str],
                 schema_evolution: bool, fn: str,
                 key_cols: "list[str] | None" = None) -> tuple:
    """Validate a MERGE source schema against the target's ``existing``
    fields (StructFields — names AND types) and return
    ``(added, widened)``: the ADDED StructFields (source order) and a
    ``{name: wider_type_json}`` dict of common columns the source carries
    under a WIDER type on the :data:`_WIDEN_CHAINS` lattice (int→bigint,
    float→double — Delta's typeWidening). Sources must carry every
    existing column; both evolution forms require
    ``schema_evolution=True`` (without it the mismatch is an error, not a
    silent drop/coercion — Delta's contract). A source column NARROWER
    than the target upcasts into the target type (no schema change); any
    other type difference is an error. Key columns can never be added or
    widened — the bucket hash is type-sensitive, so a widened key would
    re-hash every row to a different bucket."""
    existing_fields = list(existing)
    existing_names = [f.name for f in existing_fields]
    src_cols = [c for c in source.columns if c not in drop]
    missing = [c for c in existing_names if c not in src_cols]
    if missing:
        raise ValueError(
            f"{fn}: source is missing target column(s) {missing}; a MERGE "
            "source must carry every existing column (added columns are "
            "allowed with schema_evolution=True)"
        )
    added = [c for c in src_cols if c not in existing_names]
    if added and not schema_evolution:
        raise ValueError(
            f"{fn}: source adds column(s) {added} not in the target schema; "
            "pass schema_evolution=True to widen the table (old rows/"
            "versions surface NULL), or drop them from the source"
        )
    widened: dict = {}
    for f in existing_fields:
        st = source.schema[f.name].dataType
        tt = f.dataType
        if st == tt:
            continue
        st_j, tt_j = st.jsonValue(), tt.jsonValue()
        if _widens(tt_j, st_j):
            if key_cols and f.name in key_cols:
                raise ValueError(
                    f"{fn}: key column {f.name!r} cannot widen "
                    f"({tt_j} -> {st_j}): bucket placement hashes the key's "
                    "binary form, so a widened key would re-hash every row "
                    "to a different bucket — recreate the table instead"
                )
            if not schema_evolution:
                raise ValueError(
                    f"{fn}: source carries {f.name!r} as {st_j} but the "
                    f"table stores {tt_j}; pass schema_evolution=True to "
                    "WIDEN the column (old files read under the wider type "
                    "with no rewrite), or cast the source down"
                )
            widened[f.name] = st
        elif _widens(st_j, tt_j):
            pass  # narrower source: upcast into the target type at write
        else:
            raise ValueError(
                f"{fn}: source column {f.name!r} is {st_j} but the table "
                f"stores {tt_j} — not a widening on the supported lattice "
                f"({_WIDEN_CHAINS}); cast the source explicitly"
            )
    return [source.schema[c] for c in added], widened


def _bucket_expr(key_cols: list[str], n_buckets: int):
    import pyspark.sql.functions as F

    return F.pmod(F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(n_buckets))


def _changed_buckets(man_a: dict, man_b: dict) -> "set[int]":
    """Buckets whose ownership OR deletion-vector list differs between two
    manifests — the same changed-bucket rule ``diff_bucketed`` uses."""
    dv_a, dv_b = man_a.get("dv", {}), man_b.get("dv", {})
    return {
        int(b)
        for b in man_a["buckets"]
        if man_a["buckets"][b] != man_b["buckets"][b]
        or dv_a.get(b, []) != dv_b.get(b, [])
    }


def _is_schema_append(base_json: str, new_json: str) -> bool:
    """True when ``new``'s fields are exactly ``base``'s fields (same
    name, type, order) followed by zero or more APPENDED fields — the
    only schema change that is safe to rebase over (the schema-union
    path keeps both sides' columns). A drop, rename, reorder, or type
    change is NOT an append and must conflict."""
    base_f = json.loads(base_json)["fields"]
    new_f = json.loads(new_json)["fields"]
    return len(new_f) >= len(base_f) and new_f[: len(base_f)] == base_f


def _meta_diff(read_man: dict, cur_man: dict, strict: bool) -> list[str]:
    """Table-metadata keys on which a concurrent winner (``cur_man``)
    diverged from the manifest this commit planned against
    (``read_man``) — any hit makes the rebase unsafe: a merge planned
    before a ``drop_column`` would resurrect the dropped column (its
    physical name sits in ``retired_cols``); over a ``rename_column``
    it would duplicate the column as old+new logical fields; over an
    ``add_constraint`` it would publish rows never validated against
    the new constraint. With ``strict=False`` (data commits) a pure
    APPEND-only schema widening is tolerated — the rebase's
    ``_schema_union_json`` keeps both sides' columns losslessly;
    metadata-only commits pass ``strict=True`` because their manifest
    edits precompute the mutated schema/colmap from ``read_man`` and
    must not publish it on top of ANY diverged metadata."""
    diff = [
        k
        for k in ("key_cols", "n_buckets", "constraints", "generated",
                  "colmap", "retired_cols")
        if read_man.get(k) != cur_man.get(k)
    ]
    if read_man["schema"] != cur_man["schema"] and (
        strict or not _is_schema_append(read_man["schema"], cur_man["schema"])
    ):
        diff.append("schema")
    # index SPEC (params / attached-ness) is metadata: a merge that
    # planned index maintenance must not rebase over a concurrent
    # detach/attach/re-attach (its finalize would resurrect or fight the
    # winner's spec). The SHARD MAP is data-like and rebases per-bucket
    # exactly like bucket ownership — only the NAME SET + each index's
    # params compare here (round 12: multi-index manifests).
    if {n: s.get("params") for n, s in _indexes(read_man).items()} != {
        n: s.get("params") for n, s in _indexes(cur_man).items()
    }:
        diff.append("indexes")
    return diff


def _publish_bucketed(table, staged, read_man, affected, edit,
                      strict_meta: bool = False) -> int:
    """The one writer of a bucketed table's manifests: publish a staged
    commit inside the pointer critical section, with Delta-style
    conflict resolution: fast path when the pointer still equals the
    planned-against version (``read_man``, None = creating); REBASE onto
    the winner's manifest when concurrent commits touched DISJOINT
    bucket sets (ownership and DV lists both compared) AND the winner
    left the table METADATA this commit planned under unchanged (schema
    / key_cols / constraints / generated / colmap / retired_cols — see
    :func:`_meta_diff`; a metadata-only winner changes no buckets, so
    without this check a data commit would silently rebase over a
    drop/rename/add_constraint it never planned for);
    :class:`CommitConflictError` otherwise.

    ``edit(manifest, final, dest)`` changes, in place, only the keys its
    verb means on a copy of the manifest the commit lands on —
    ``read_man`` on the fast path, the winner's manifest on a rebase,
    empty on create — whose ``version`` is already ``final``; ``dest`` is
    the published version directory. Every key the edit leaves alone
    carries over, so no verb lists the table metadata. ``staged=None``
    (metadata-only commits) stages an empty version directory here.
    ``strict_meta=True`` (metadata-only commits, whose edits precompute
    their mutation from ``read_man``) additionally conflicts on
    append-only schema widening. Returns the new version."""
    if staged is None:
        staged = _staged_path(table)
        os.makedirs(staged)
    expected = None if read_man is None else read_man["version"]
    with _pointer_lock(table):
        cur = current_version(table)
        base_man = read_man
        if cur != expected:
            if read_man is None or cur is None or cur < expected:
                shutil.rmtree(staged, ignore_errors=True)
                raise CommitConflictError(
                    f"cannot commit to {table}: expected latest version "
                    f"{expected}, found {cur} — re-read and retry"
                )
            cur_man = _read_manifest(table, cur)
            meta_moved = _meta_diff(read_man, cur_man, strict_meta)
            if meta_moved:
                shutil.rmtree(staged, ignore_errors=True)
                raise CommitConflictError(
                    f"cannot commit to {table}: a concurrent commit advanced "
                    f"v{expected} -> v{cur} changing table metadata "
                    f"{meta_moved} this commit planned under — re-read and "
                    "retry"
                )
            overlap = sorted(_changed_buckets(read_man, cur_man) & set(affected))
            if overlap:
                shutil.rmtree(staged, ignore_errors=True)
                raise CommitConflictError(
                    f"cannot commit to {table}: a concurrent commit advanced "
                    f"v{expected} -> v{cur} touching bucket(s) {overlap} this "
                    "commit also touches — re-read and retry"
                )
            base_man = cur_man  # disjoint buckets, same metadata: both win
        final = 0 if cur is None else cur + 1
        dest = _version_dir(table, final)
        os.rename(staged, dest)
        manifest = {**copy.deepcopy(base_man or {}), "version": final}
        edit(manifest, final, dest)
        with open(_manifest_path(table, final), "w") as f:
            json.dump(manifest, f)
        _write_pointer(table, final)
    return final


def _commit_bucketed(
    table: str, df: DataFrame, base: dict, read_man: "dict | None", dv_clear=(),
) -> int:
    """Stage ``df`` (logical columns plus ``__bucket``) one directory per
    bucket, then conditionally publish (see ``_publish_bucketed``).
    ``base`` carries the manifest keys the commit sets plus
    ``__affected`` (see :func:`_commit_staged_bucketed`); affected
    buckets that produced no files become ``None`` tombstones. DV lists
    for ``dv_clear`` buckets are dropped (the rewrite folded them in);
    all other bucket ownership and DV state is inherited from the
    manifest the commit lands on — which under a disjoint-bucket rebase
    is the concurrent winner's, so neither commit's buckets are lost.
    Crash before the critical section leaves an invisible ``_staged_*``
    orphan, same contract as ``commit_version``.

    On a table that carries co-committed indexes the staging is ONE
    grouped pass (``indexed._write_shards``): each task takes one
    rewritten bucket, writes its single data file (ordered by a
    ``__zkey`` column when ``df`` has one) and, from the same Arrow
    table, every index's shard; the manifest's shard map advances in the
    same publish. Data and shards therefore come from one evaluation of
    ``df`` and land in one rename + one pointer swap. Other tables stage
    through Spark's ``partitionBy`` writer."""
    staged = _staged_path(table)
    specs = _indexes(read_man)
    finalize = None
    if specs:
        from semantic_index_spark.sources.indexed import (
            _shard_finalizer,
            _write_shards,
        )

        # exists even when every rewritten bucket came out empty
        os.makedirs(staged)
        _write_shards(df, read_man, specs, staged, base["__affected"], data=True)
        finalize = _shard_finalizer(specs, base["__affected"])
    else:
        if read_man is not None:  # files persist PHYSICAL names (column mapping)
            df = _to_physical(df, read_man)
        df.write.mode("errorifexists").partitionBy("__bucket").parquet(staged)
    return _commit_staged_bucketed(
        table, staged, base, read_man, dv_clear, finalize
    )


def _commit_staged_bucketed(
    table: str, staged: str, base: dict, read_man: "dict | None", dv_clear=(),
    finalize_manifest=None,
) -> int:
    """The Spark-FREE tail of :func:`_commit_bucketed`: publish an
    already-staged ``__bucket=<b>`` directory layout (physical column
    names) under the same manifest edit + OCC rebase semantics. Split
    out in round 12 so the SQL front door's ``DataSourceWriter`` — whose
    ``commit()`` runs in a Python worker with no SparkSession — commits
    through the IDENTICAL path as every Spark-side verb, instead of a
    re-implementation that could drift.

    The commit's edit of the manifest it lands on sets ``base``'s keys
    (create: the whole table definition; merge, OPTIMIZE and ``INSERT
    INTO``: ``schema`` and ``meta``), advances ``buckets`` over the
    affected set and drops the ``dv_clear`` buckets' DV lists; every
    other key — constraints, column mapping, index specs — carries over
    (``_meta_diff`` keeps it identical between ``read_man`` and any
    rebase winner). ``finalize_manifest(manifest, final, dest)`` then
    amends the same edit — the co-committed indexes' shard maps ride it
    (``indexed._shard_finalizer``)."""
    affected = base.pop("__affected")
    cleared = {str(b) for b in dv_clear}

    def edit(manifest: dict, final: int, dest: str) -> None:
        landed_schema = manifest.get("schema")
        manifest.update(base)
        if landed_schema is not None:
            # rebase-lossless schema evolution: two concurrent commits that
            # each widened the schema (disjoint buckets) keep BOTH column
            # sets — ours in declared order, the winner's additions after
            manifest["schema"] = _schema_union_json(base["schema"], landed_schema)
        buckets = manifest.setdefault(
            "buckets", {str(b): None for b in range(manifest["n_buckets"])}
        )
        written = _written_buckets(dest)
        for b in affected:
            buckets[str(b)] = final if b in written else None
        dv = {b: v for b, v in manifest.pop("dv", {}).items() if b not in cleared}
        if dv:
            manifest["dv"] = dv
        if finalize_manifest is not None:
            finalize_manifest(manifest, final, dest)

    return _publish_bucketed(table, staged, read_man, affected, edit)


def _check_constraints(df: DataFrame, constraints: "dict | None", where: str) -> None:
    """Fail a commit whose rows violate any table CHECK constraint.
    Delta semantics: a row violates only when the expression evaluates to
    FALSE — NULL (unknown) passes, so ``x > 0`` admits NULL x and callers
    who want NOT NULL say so (``x IS NOT NULL``). One short-circuiting
    ``limit(1)`` probe per constraint over only the rows being WRITTEN —
    rows already in untouched buckets were validated when they were
    written, so enforcement cost scales with the batch, not the table."""
    import pyspark.sql.functions as F

    for name, expr in (constraints or {}).items():
        bad = df.filter(F.expr(expr).eqNullSafe(F.lit(False))).limit(1).collect()
        if bad:
            raise ConstraintViolationError(
                f"{where}: constraint {name!r} ({expr}) violated by row "
                f"{bad[0].asDict()} — commit aborted, nothing published"
            )


def _apply_generated(df: DataFrame, generated: "dict | None", where: str) -> DataFrame:
    """Delta generated-column write semantics: a write that OMITS the
    column gets it computed from its expression; a write that PROVIDES it
    must match the expression exactly (null-safe) — a mismatched explicit
    value is a violation, never a silent overwrite."""
    import pyspark.sql.functions as F

    for col, expr in (generated or {}).items():
        if col not in df.columns:
            df = df.withColumn(col, F.expr(expr))
        else:
            bad = (
                df.filter(~F.expr(expr).eqNullSafe(F.col(col))).limit(1).collect()
            )
            if bad:
                raise ConstraintViolationError(
                    f"{where}: generated column {col!r} = ({expr}) does not "
                    f"match the provided value in row {bad[0].asDict()} — "
                    "omit the column or provide the generated value"
                )
    return df


def create_bucketed(
    df: DataFrame,
    table: str,
    key_cols: list[str],
    n_buckets: int = 64,
    constraints: "dict[str, str] | None" = None,
    generated: "dict[str, str] | None" = None,
) -> int:
    """Create a hash-bucketed versioned table: rows land in
    ``pmod(xxhash64(key), n_buckets)`` buckets, and the per-version
    manifest records WHICH version currently owns each bucket — the
    minimal manifest-tree a real table format keeps per data file. Size
    ``n_buckets`` so one bucket ≈ one comfortable task (100 TB / 64 GiB
    ≈ thousands); the win is that a later merge touching k buckets
    rewrites k/n_buckets of the table instead of all of it."""
    os.makedirs(table, exist_ok=True)
    if current_version(table) is not None:
        raise FileExistsError(f"bucketed table {table} already exists")
    keys = list(key_cols)
    df = _apply_generated(df, generated, "create_bucketed")
    _check_constraints(df, constraints, "create_bucketed")
    base = {
        "key_cols": keys,
        "n_buckets": int(n_buckets),
        "schema": df.schema.json(),
        "__affected": list(range(n_buckets)),
    }
    if constraints:
        base["constraints"] = dict(constraints)
    if generated:
        base["generated"] = dict(generated)
    return _commit_bucketed(
        table, df.withColumn("__bucket", _bucket_expr(keys, n_buckets)), base, None
    )


def _dv_paths(table: str, man: dict, buckets: "set[int] | None" = None) -> list[str]:
    """Paths of the deletion-vector key files a manifest references,
    optionally restricted to a bucket subset (looked up per bucket, so a
    one-bucket call costs O(1) however many buckets carry DVs)."""
    dv = man.get("dv", {})
    keys = dv if buckets is None else [str(b) for b in sorted(buckets) if str(b) in dv]
    return [_bucket_dir(_dv_dir(_version_dir(table, v)), b) for b in keys for v in dv[b]]


def _dv_keys(
    spark: SparkSession, table: str, man: dict, buckets: "set[int] | None" = None
) -> "DataFrame | None":
    """The distinct keys (logical names) of the manifest's deletion
    vectors, or None when none apply. DV files store the PHYSICAL key
    names (stable across renames) under the key types the manifest fixes
    (keys never widen), so the read takes that schema instead of running
    a footer-inference job."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import StructField, StructType

    paths = _dv_paths(table, man, buckets)
    if not paths:
        return None
    cm = _colmap(man)
    fields = _manifest_schema(man)
    phys = StructType(
        [StructField(cm.get(k, k), fields[k].dataType) for k in man["key_cols"]]
    )
    return (
        spark.read.schema(phys).parquet(*paths)
        .select(*[F.col(cm.get(k, k)).alias(k) for k in man["key_cols"]])
        .distinct()
    )


def _apply_dv(
    spark: SparkSession, df: DataFrame, table: str, man: dict, buckets: "set[int] | None" = None
) -> DataFrame:
    """Anti-join out rows whose key appears in the manifest's deletion
    vectors. Keys hash to exactly one bucket, so applying the DV keys
    globally equals applying them per bucket."""
    dv_keys = _dv_keys(spark, table, man, buckets)
    if dv_keys is None:
        return df
    return df.join(dv_keys, man["key_cols"], "left_anti")


def read_bucketed(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    key_values: list[tuple] | None = None,
    as_of_ts=None,
) -> DataFrame:
    """Read a bucketed table at the committed latest (or any retained)
    version by unioning each bucket's owning-version files. With
    ``key_values`` (tuples matching ``key_cols``), reads ONLY the buckets
    those keys hash to — manifest-level partition pruning, the point-
    lookup path (the scan shrinks ~n_buckets-fold before Spark sees it).
    Deletion vectors recorded by :func:`delete_bucketed` are applied as an
    anti-join (each manifest lists exactly the DVs committed at or before
    its version, so time travel sees the right deletes for free).
    ``as_of_ts`` resolves a wall-clock time to a version first
    (:func:`resolve_as_of`)."""
    from pyspark.sql.types import StructType

    if as_of_ts is not None:
        if version is not None:
            raise ValueError("pass version OR as_of_ts, not both")
        version = resolve_as_of(table, as_of_ts)
    man = _read_manifest(table, version)
    wanted = None
    if key_values is not None:
        keys = man["key_cols"]
        full = _manifest_schema(man)
        probe = spark.createDataFrame(
            key_values, schema=StructType([full[k] for k in keys])
        )
        wanted = {
            r["__b"]
            for r in probe.select(_bucket_expr(keys, man["n_buckets"]).alias("__b")).collect()
        }
    live = _live_bucket_dirs(table, man, wanted)
    if not live:
        return spark.createDataFrame([], _manifest_schema(man))
    # manifest-schema read: buckets untouched since a schema-evolving merge
    # hold old-schema files and null-fill the added columns
    return _apply_dv(
        spark, _read_bucket_files(spark, man, list(live.values())), table, man, set(live)
    )


def merge_into_bucketed(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    op_col: str | None = None,
    when_matched: str = "update",
    insert_not_matched: bool = True,
    meta: dict | None = None,
    schema_evolution: bool = False,
) -> int:
    """``MERGE INTO`` a bucketed table rewriting ONLY the buckets the
    source touches — the incremental copy-on-write real table formats do
    at file granularity. ``op_col`` / ``when_matched`` /
    ``insert_not_matched`` follow SQL MERGE, and source keys must be
    unique. I/O scales with the touched buckets: a batch touching k of
    n_buckets buckets reads and rewrites k buckets — at 100 TB with a
    1 % daily feed that is the difference between a 1 TB job and a
    100 TB job. Untouched buckets keep their old owning version in the
    new manifest (no data movement, no read amplification later). The
    merge itself stays all hash equi-joins on the merge key within the
    affected buckets.

    ``schema_evolution=True`` widens the table schema when the source
    carries ADDED columns (Delta mergeSchema-on-MERGE): the new manifest
    records old columns + added columns, REWRITTEN buckets' pre-merge
    rows surface NULL for them, and — the incremental part — untouched
    buckets are NOT rewritten: their old-schema files are null-filled at
    read time because every bucket read goes through the manifest schema
    (``_read_bucket_files``). It also TYPE-widens (Delta typeWidening,
    round 11): a source column carried under a wider lattice type
    (int→bigint, float→double, …) promotes the manifest field, rewritten
    buckets' survivors upcast, and untouched buckets' NARROW files are
    upcast by the parquet reader under the manifest's wider read schema —
    zero rewrites, same mechanism as the null-fill. Time travel reads
    each version under its own manifest's schema (and type). Key columns
    never evolve — the bucket hash is type-sensitive."""
    import pyspark.sql.functions as F

    from semantic_index_spark.session import collect_bounded, job_description, pin, pinned

    def described(what: str):
        return job_description(spark, f"merge_into_bucketed: {what}")

    if when_matched not in ("update", "delete"):
        raise ValueError(f"when_matched must be 'update' or 'delete', got {when_matched!r}")
    man = _read_manifest(table)
    keys, n_buckets = man["key_cols"], man["n_buckets"]
    source = _apply_generated(source, man.get("generated"), "merge_into_bucketed")
    tgt_fields = _manifest_schema(man).fields
    data_cols = [f.name for f in tgt_fields]
    added, widened = _evolve_cols(
        source, tgt_fields, [op_col] if op_col else [], schema_evolution,
        "merge_into_bucketed", key_cols=keys,
    )
    # physical names held by renamed columns AND tombstoned by drops:
    # re-introducing either would read stale bytes out of untouched files
    retired = set(_colmap(man).values()) | set(man.get("retired_cols", []))
    clash = [f.name for f in added if f.name in retired]
    if clash:
        raise ValueError(
            f"merge_into_bucketed: added column(s) {clash} collide with the "
            "frozen PHYSICAL name of a renamed or dropped column — old files "
            "still hold those bytes; pick different names"
        )
    # widening a column a CHECK constraint or generated expression reads
    # could silently change that expression's result type (a generated
    # int computed from a now-long input writes longs under an int
    # manifest field) — refuse, mirroring drop/rename's guard
    _refuse_referenced(
        man, widened, lambda hit: f"merge_into_bucketed: cannot widen column(s) {hit}"
    )
    final_types = {f.name: f.dataType for f in tgt_fields}
    final_types.update(widened)
    for f in added:
        final_types[f.name] = f.dataType
    # upcast the source into every column's FINAL type BEFORE bucketing:
    # the bucket hash is type-sensitive (xxhash64 of an int and of the
    # same value as long differ), so a narrower-typed source key must
    # take the table's declared type first or its rows would land in the
    # wrong bucket; widened/equal columns' casts are no-ops
    source = source.select(
        *[
            F.col(c).cast(final_types[c]).alias(c) if c in final_types else F.col(c)
            for c in source.columns
        ]
    )
    new_schema = json.loads(man["schema"])
    for f in new_schema["fields"]:
        if f["name"] in widened:
            f["type"] = widened[f["name"]].jsonValue()
    new_schema["fields"].extend(f.jsonValue() for f in added)
    if op_col is None:
        src = source.withColumn("__op", F.lit(when_matched))
    else:
        src = source.withColumnRenamed(op_col, "__op")
    # nothing reads the pins once the commit returned or raised
    with pinned():
        src = src.withColumn("__bucket", _bucket_expr(keys, n_buckets))
        src = pin(src, "merge_into_bucketed: pin source", "eager")
        # ONE bounded aggregation over the checkpointed source yields BOTH the
        # affected-bucket list and the unique-source-key validation (r13: the
        # dup check was previously a SEPARATE action over the raw source
        # lineage — i.e. the whole source plan ran twice per merge). NULL-safe:
        # count_distinct skips NULL keys, so a count mismatch only FLAGS a
        # possible dup — the groupBy recheck (failure path only) decides, with
        # the same key-tuple error as before.
        with described("bucket stats"):
            stats = collect_bounded(
                src.groupBy("__bucket").agg(
                    F.count("*").alias("_n"),
                    F.count_distinct(*[F.col(k) for k in keys]).alias("_nd"),
                ),
                n_buckets,
                "merge_into_bucketed bucket stats",
            )
        affected = sorted(r["__bucket"] for r in stats)
        if any(r["_n"] != r["_nd"] for r in stats):
            with described("duplicate-key check"):
                dup = src.groupBy(*keys).count().filter(F.col("count") > 1).limit(1).collect()
            if dup:
                raise ValueError(
                    f"merge_into_bucketed: source has multiple rows for key "
                    f"{tuple(dup[0][k] for k in keys)}; MERGE requires unique source keys"
                )
        tgt_paths = list(_live_bucket_dirs(table, man, set(affected)).values())
        if tgt_paths:
            # outstanding deletion vectors must apply BEFORE the rewrite, or
            # the rewrite would resurrect DV-deleted rows into the new bucket
            with described("read target buckets"):
                target = _apply_dv(
                    spark, _read_bucket_files(spark, man, tgt_paths), table, man, set(affected)
                ).withColumn("__bucket", _bucket_expr(keys, n_buckets))
            kept = target.join(src.select(*keys), keys, "left_anti")
            for c, dt in widened.items():  # survivors upcast into the widened type
                kept = kept.withColumn(c, F.col(c).cast(dt))
            for f in added:  # rewritten buckets' survivors get typed NULLs
                kept = kept.withColumn(f.name, F.lit(None).cast(f.dataType))
        else:
            kept = None
        out_cols = data_cols + [f.name for f in added]
        upserts = src.filter(F.col("__op") != "delete").select(*out_cols, "__bucket")
        if not insert_not_matched:
            if kept is None:
                upserts = upserts.limit(0)
            else:
                upserts = upserts.join(target.select(*keys), keys, "left_semi")
        result = upserts if kept is None else kept.select(*out_cols, "__bucket").unionByName(upserts)
        # CHECK constraints: only the incoming rows can introduce a violation
        # (kept rows passed when they were written; add_constraint validated
        # the whole table), so enforcement is O(batch), not O(table)
        with described("check constraints"):
            _check_constraints(upserts, man.get("constraints"), "merge_into_bucketed")
        base = {
            "schema": json.dumps(new_schema),
            "meta": dict(meta) if meta else {},
            "__affected": affected,
        }
        # a rewritten bucket has its DVs folded into the data — clear them;
        # the commit is conditional on `man` and rebases over concurrent
        # commits that touched only DISJOINT buckets (_publish_bucketed).
        # On an indexed table the commit's one grouped pass writes each
        # rewritten bucket's data file AND every index shard from one
        # evaluation of `result`, so table and indexes never disagree
        with described("commit"):
            return _commit_bucketed(table, result, base, man, dv_clear=affected)


def delete_bucketed(
    spark: SparkSession, table: str, keys: DataFrame, meta: dict | None = None
) -> int:
    """Row-level DELETE without rewriting any bucket — deletion vectors,
    the write-fast half of Delta DVs / Iceberg delete files: the delete
    keys land as tiny per-bucket key files under the NEW version
    (``v=<n>/__dv/__bucket=<b>/``), the manifest appends the version to
    each affected bucket's DV list, and the data files are untouched.
    Readers anti-join the DV keys (``read_bucketed``); the next MERGE
    touching a bucket folds its DVs into the rewrite and clears them —
    the standard compaction contract. Deleting is therefore O(delete
    keys) IO at commit time, with the cost deferred to reads, the
    opposite trade from ``merge_into_bucketed``'s tombstones (O(bucket)
    commit, free reads) — at 100 TB you want both. Returns the new
    version."""
    import pyspark.sql.functions as F

    man = _read_manifest(table)
    kc, n_buckets = man["key_cols"], man["n_buckets"]
    kt = {f.name: f.dataType for f in _manifest_schema(man).fields}
    keyed = (
        # cast to the table's declared key types BEFORE bucketing — the
        # bucket hash is type-sensitive, so an int-typed delete key for a
        # long-keyed table would hash to the wrong bucket and never apply
        keys.select(*[F.col(k).cast(kt[k]).alias(k) for k in kc])
        .distinct()
        .withColumn("__bucket", _bucket_expr(kc, n_buckets))
    )
    staged = _staged_path(table)
    _to_physical(keyed, man).write.mode("errorifexists").partitionBy(
        "__bucket"
    ).parquet(_dv_dir(staged))
    # the affected-bucket set IS the set of staged bucket dirs the write
    # just produced — read it from the filesystem instead of paying a
    # localCheckpoint + distinct-collect action pair over the key lineage
    # (r13: a DV delete is now ONE Spark action); the publish renames this
    # same directory, so every affected bucket gains a DV file
    affected = sorted(_written_buckets(_dv_dir(staged)))

    def edit(manifest: dict, final: int, dest: str) -> None:
        dv = manifest.setdefault("dv", {})
        for b in affected:
            dv.setdefault(str(b), []).append(final)
        manifest["meta"] = dict(meta) if meta else {}

    # conditional on `man`; a concurrent commit touching only OTHER
    # buckets rebases (the DV lists append onto the winner's manifest)
    return _publish_bucketed(table, staged, man, affected, edit)


def expire_bucketed(
    table: str, keep_manifests: int = 2, orphan_ttl_seconds: float = 24 * 3600.0
) -> list[int]:
    """Retention for bucketed tables — ``expire_versions`` must NOT be
    used here: an old ``v=`` directory can still OWN live buckets (the
    whole point of incremental merges is that untouched buckets stay
    where they were written). This walks the manifests instead: keep the
    newest ``keep_manifests`` manifests; a version directory is
    reclaimable only when NO kept manifest references any of its buckets.
    Returns the reclaimed version numbers. Same crash contract as the
    rest of the module: data is deleted only after the pointer already
    stopped referencing it, so a reader pinned to a KEPT version never
    loses files."""
    if keep_manifests < 1:
        raise ValueError(f"keep_manifests must be >= 1, got {keep_manifests}")
    _reclaim_staged(table, orphan_ttl_seconds)
    kept_versions, _, reclaimable = _retention_plan(table, keep_manifests)
    if kept_versions is None:
        return []
    reclaimed = []
    for v in reclaimable:
        shutil.rmtree(_version_dir(table, v), ignore_errors=True)
        mp = _manifest_path(table, v)
        if os.path.exists(mp):
            os.remove(mp)
        reclaimed.append(v)
    return reclaimed


def _retention_plan(table: str, keep_manifests: int):
    """The retention walk shared by :func:`expire_bucketed` (which acts
    on it) and :func:`vacuum_report` (which only REPORTS it): keep the
    newest ``keep_manifests`` manifests; a version directory is live iff
    a kept manifest references any of its buckets, DV files, or index
    shards. Returns ``(kept_versions, live, reclaimable)``;
    ``(None, None, [])`` for an empty table."""
    cur = current_version(table)
    if cur is None:
        return None, None, []
    kept_versions = [
        v for v in range(cur + 1) if os.path.exists(_manifest_path(table, v))
    ][-keep_manifests:]
    if not kept_versions:
        # a plain-snapshot table has no manifests; without this guard the
        # empty live-set would reclaim EVERY version — refuse instead.
        raise ValueError(
            f"expire_bucketed: {table} has no bucket manifests (plain snapshot "
            "table? use expire_versions)"
        )
    live: set[int] = set()
    for v in kept_versions:
        man = _read_manifest(table, v)
        live.update(int(x) for x in man["buckets"].values() if x is not None)
        # deletion-vector files live under their committing version's dir —
        # a version can be live purely because a kept manifest still
        # references its DVs; likewise a co-committed index's shard graphs
        for versions in man.get("dv", {}).values():
            live.update(int(x) for x in versions)
        for owner in [
            o for spec in _indexes(man).values()
            for o in spec.get("shards", {}).values()
        ]:
            if owner is not None:
                live.add(int(owner))
    reclaimable = [
        v
        for v in list_versions(table)
        if v not in live
        and v not in kept_versions
        # in-flight concurrent commit — same age rule as expire_versions
        and v <= cur
    ]
    return kept_versions, live, reclaimable


def vacuum_report(
    table: str,
    keep_manifests: int = 2,
    orphan_ttl_seconds: float = 24 * 3600.0,
) -> dict:
    """Dry-run VACUUM advisor (round 13 — advisor symmetry with
    ``hnsw_maintenance_status`` /
    ``ivf_maintenance_status``): report exactly what
    :func:`expire_bucketed` WOULD reclaim, mutating nothing — the
    numbers a retention daemon alerts on before acting. Returns::

        {"kept": [versions whose manifests retention keeps],
         "live": [version dirs a kept manifest references],
         "reclaimable": [version dirs expire_bucketed would delete],
         "reclaimable_bytes": total file bytes in those dirs,
         "staged_orphans": [{"dir", "age_seconds"}]  # crashed writers'
             _staged_* dirs past the TTL (younger ones are in-flight
             commits, not orphans — never listed)}

    Driver-side listing only — the same manifest walk a maintenance
    daemon already does; no data is read. Pytest-locked: the report is
    side-effect-free (serves unchanged), agrees with what a subsequent
    ``expire_bucketed`` actually reclaims, and an expired table reports
    clean."""
    kept_versions, live, reclaimable = _retention_plan(table, keep_manifests)
    if kept_versions is None:
        return {
            "kept": [], "live": [], "reclaimable": [],
            "reclaimable_bytes": 0, "staged_orphans": [],
        }
    nbytes = 0
    for v in reclaimable:
        for root, _dirs, files in os.walk(_version_dir(table, v)):
            for f in files:
                try:
                    nbytes += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    orphans = []
    now = time.time()
    for d in sorted(os.listdir(table)):
        if not d.startswith(_STAGED_PREFIX):
            continue
        try:
            age = now - os.path.getmtime(os.path.join(table, d))
        except OSError:
            continue  # vanished underneath us — its writer finished
        if age >= orphan_ttl_seconds:
            orphans.append({"dir": d, "age_seconds": round(age, 1)})
    return {
        "kept": list(kept_versions),
        "live": sorted(live),
        "reclaimable": list(reclaimable),
        "reclaimable_bytes": int(nbytes),
        "staged_orphans": orphans,
    }


def diff_bucketed(
    spark: SparkSession, table: str, v_from: int, v_to: int
) -> DataFrame:
    """Change data feed between two committed versions of a bucketed
    table — Delta CDF / Iceberg changelog-scan semantics. The manifests
    make it INCREMENTAL: a bucket whose owning version is identical in
    both manifests cannot contain a change, so only buckets that moved
    are read on either side — a merge that touched 1 % of the table
    yields a diff that reads ~1 % of it, at any table size. Within the
    changed buckets, one full-outer hash equi-join on the key classifies
    rows (``inserted`` / ``deleted`` / ``updated``); rows whose full
    payload is null-safe-equal are dropped (bucket churn is not a row
    change). Returns key columns + ``_action`` + ``<col>_old`` /
    ``<col>_new`` for every data column."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import StructField, StructType

    man_a, man_b = _read_manifest(table, v_from), _read_manifest(table, v_to)
    cm_a, cm_b = _colmap(man_a), _colmap(man_b)
    # keys compare by PHYSICAL identity — a renamed key is the same key
    pk_a = [cm_a.get(k, k) for k in man_a["key_cols"]]
    pk_b = [cm_b.get(k, k) for k in man_b["key_cols"]]
    if pk_a != pk_b or man_a["n_buckets"] != man_b["n_buckets"]:
        raise ValueError("diff_bucketed: incompatible manifests (key_cols/n_buckets differ)")
    # union schema by PHYSICAL identity: physical names are frozen at
    # column birth, so a column renamed between the versions is ONE
    # column (reported under v_to's logical name — Delta column-mapping
    # CDF semantics), while a genuinely added column shows NULL
    # old-values. With no renames this is the plain union-by-name.
    phys_schema = StructType.fromJson(
        json.loads(
            _schema_union_json(
                _physical_schema_json(man_a), _physical_schema_json(man_b)
            )
        )
    )
    p2l: dict[str, str] = {}
    for man in (man_a, man_b):  # v_to's logical names override v_from's
        cm = _colmap(man)
        for name in _manifest_fields(man):
            p2l[cm.get(name, name)] = name
    logical_by_phys = [p2l[f.name] for f in phys_schema.fields]
    schema = StructType(
        [
            StructField(lname, f.dataType, f.nullable)
            for lname, f in zip(logical_by_phys, phys_schema.fields)
        ]
    )
    keys = man_b["key_cols"]
    data_cols = [f.name for f in schema.fields if f.name not in keys]
    # a bucket changed if its owning version moved OR its deletion-vector
    # list did (a DV-only commit moves no data but deletes rows)
    changed = _changed_buckets(man_a, man_b)

    def _side(man: dict) -> DataFrame:
        paths = list(_live_bucket_dirs(table, man, changed).values())
        if not paths:
            return spark.createDataFrame([], schema)
        rows = spark.read.schema(phys_schema).parquet(*paths).select(
            *[
                F.col(p.name).alias(l)
                for p, l in zip(phys_schema.fields, logical_by_phys)
            ]
        )
        # rows now carry v_to's logical names — the DV anti-join must key
        # on those (its colmap resolves them back to the physical files)
        adj = dict(man)
        adj["key_cols"] = keys
        adj["colmap"] = dict(zip(keys, pk_b))
        return _apply_dv(spark, rows, table, adj, changed)

    a = _side(man_a).select(
        *keys, *[F.col(c).alias(f"{c}_old") for c in data_cols], F.lit(1).alias("_in_a")
    )
    b = _side(man_b).select(
        *keys, *[F.col(c).alias(f"{c}_new") for c in data_cols], F.lit(1).alias("_in_b")
    )
    joined = a.join(b, keys, "full_outer")
    same_payload = F.lit(True)
    for c in data_cols:
        same_payload = same_payload & F.col(f"{c}_old").eqNullSafe(F.col(f"{c}_new"))
    action = (
        F.when(F.col("_in_a").isNull(), F.lit("inserted"))
        .when(F.col("_in_b").isNull(), F.lit("deleted"))
        .otherwise(F.lit("updated"))
    )
    return (
        joined.filter(
            F.col("_in_a").isNull() | F.col("_in_b").isNull() | ~same_payload
        )
        .select(
            *keys,
            action.alias("_action"),
            *[F.col(f"{c}_old") for c in data_cols],
            *[F.col(f"{c}_new") for c in data_cols],
        )
    )


def _refuse_referenced(man: dict, cols, refused) -> None:
    """Raise when a CHECK constraint or generated column reads any of
    ``cols`` (or is one); ``refused(hit)`` names the refused change.
    Identifier-token match, not substring: changing ``a`` must not be
    refused because an expression reads ``aa`` or ``doc_a``."""
    for meta_key in ("constraints", "generated"):
        for name, expr in man.get(meta_key, {}).items():
            hit = [
                c
                for c in cols
                if re.search(rf"(?<![A-Za-z0-9_]){re.escape(c)}(?![A-Za-z0-9_])", expr)
                or name == c
            ]
            if hit:
                raise ValueError(
                    f"{refused(hit)}: referenced by {meta_key[:-1]} {name!r} "
                    f"({expr}) — drop that first"
                )


def _refuse_index_column(man: dict, col: str, verb: str) -> None:
    """Raise when ``col`` is a co-committed ANN index's embedding column."""
    if col in {s.get("params", {}).get("emb_col") for s in _indexes(man).values()}:
        raise ValueError(
            f"cannot {verb} {col!r}: it is a co-committed ANN index's "
            "embedding column (sources/indexed.py) — detach or rebuild "
            "that index first"
        )


def restore_bucketed(table: str, to_version: int) -> int:
    """Delta ``RESTORE`` on a bucketed table, and the reason the manifest
    layer exists: the new commit's manifest simply POINTS at the target
    version's bucket ownership, schema, and deletion-vector lists — zero
    data moves, zero files rewrite, O(manifest) work at any table size
    (the plain-store :func:`restore_version` must at least re-link files;
    here not even that). History moves forward: the bad commits stay
    readable by time travel, :func:`diff_bucketed` of (pre-restore,
    restore) shows exactly the rollback as a change feed, and
    :func:`expire_bucketed` keeps every file the restore manifest
    references live. Restore conflicts with ANY concurrent commit (it
    rewrites every bucket's ownership), enforced through the standard
    ``_publish_bucketed`` OCC path."""
    man_t = _read_manifest(table, to_version)  # raises if expired/never committed
    read_man = _read_manifest(table, None)

    def edit(manifest: dict, final: int, dest: str) -> None:
        manifest.clear()
        manifest.update(man_t, version=final)
        if not man_t.get("dv"):
            manifest.pop("dv", None)

    return _publish_bucketed(
        table, None, read_man, set(range(int(man_t["n_buckets"]))), edit,
        strict_meta=True,
    )


def add_constraint(spark: SparkSession, table: str, name: str, expr: str) -> int:
    """``ALTER TABLE ... ADD CONSTRAINT`` on a bucketed table (Delta CHECK
    constraints): validates the expression against the ENTIRE current
    table first — a constraint that existing rows violate is rejected, so
    a constraint in the manifest is always a true invariant — then
    publishes a metadata-only commit. Every subsequent
    ``merge_into_bucketed`` batch is validated O(batch) against it.
    Adding a constraint conflicts with ANY concurrent data commit (all
    buckets marked affected): a batch validated against the old
    constraint set must not rebase under the new one unchecked."""
    read_man = _read_manifest(table, None)
    if name in read_man.get("constraints", {}):
        raise ValueError(f"constraint {name!r} already exists on {table}")
    _check_constraints(
        read_bucketed(spark, table), {name: expr}, f"add_constraint({name!r})"
    )

    def edit(manifest: dict, final: int, dest: str) -> None:
        manifest.setdefault("constraints", {})[name] = expr

    return _publish_bucketed(
        table, None, read_man, set(range(int(read_man["n_buckets"]))), edit,
        strict_meta=True,
    )


def drop_constraint(table: str, name: str) -> int:
    """``ALTER TABLE ... DROP CONSTRAINT``: metadata-only, and — unlike
    :func:`add_constraint` — safe to REBASE over concurrent data commits
    (removing a check can never invalidate data), so the affected set is
    empty and a concurrent merge wins alongside it."""
    read_man = _read_manifest(table, None)
    if name not in read_man.get("constraints", {}):
        raise ValueError(f"constraint {name!r} does not exist on {table}")

    def edit(manifest: dict, final: int, dest: str) -> None:
        cons = manifest.pop("constraints", {})
        cons.pop(name, None)
        if cons:
            manifest["constraints"] = cons

    return _publish_bucketed(table, None, read_man, set(), edit)


def drop_column(table: str, col: str) -> int:
    """``ALTER TABLE ... DROP COLUMN`` on a bucketed table as a
    METADATA-ONLY commit: the new manifest's schema simply omits the
    field — no bucket rewrites, because every read path projects files
    under the manifest schema (parquet column projection skips the
    physical bytes for free), and writes after the drop stop carrying the
    column. Time travel to pre-drop versions still reads the old schema
    with the column present; RESTORE to a pre-drop version resurrects it
    (the data was never deleted — Delta DROP COLUMN semantics). Key
    columns and columns referenced by a CHECK constraint or generated-
    column expression cannot be dropped (drop the constraint first)."""
    read_man = _read_manifest(table, None)
    _refuse_index_column(read_man, col, "drop")
    schema = json.loads(read_man["schema"])
    names = [f["name"] for f in schema["fields"]]
    if col not in names:
        raise ValueError(f"column {col!r} does not exist on {table}")
    if col in read_man["key_cols"]:
        raise ValueError(f"cannot drop key column {col!r}")
    _refuse_referenced(read_man, [col], lambda _: f"cannot drop {col!r}")
    schema["fields"] = [f for f in schema["fields"] if f["name"] != col]
    # the dropped column's PHYSICAL name is retired forever: untouched
    # buckets' files still hold its bytes, so re-introducing the name via
    # evolution or rename would RESURRECT deleted data into the new
    # column on manifest-schema reads (Delta avoids this with col-uuid
    # physical ids; here the tombstone list is the guard)
    phys_dropped = _colmap(read_man).get(col, col)

    def edit(manifest: dict, final: int, dest: str) -> None:
        manifest["schema"] = json.dumps(schema)
        cm = manifest.pop("colmap", None) or {}
        cm.pop(col, None)
        if cm:
            manifest["colmap"] = cm
        manifest["retired_cols"] = sorted(
            set(manifest.get("retired_cols", [])) | {phys_dropped}
        )

    # dropping conflicts with ANY concurrent data commit: a batch written
    # under the wide schema must not rebase under the narrow one unchecked
    return _publish_bucketed(
        table, None, read_man, set(range(int(read_man["n_buckets"]))), edit,
        strict_meta=True,
    )


def rename_column(table: str, old: str, new: str) -> int:
    """``ALTER TABLE ... RENAME COLUMN`` as a METADATA-ONLY commit via
    column mapping (the Delta column-mapping design): every column's
    PHYSICAL name is frozen at birth (its original logical name), data
    and DV files are always written and read by physical name, and the
    manifest's ``colmap`` translates — so a rename touches one manifest,
    never a data file, at any table size. Key columns rename too (the
    manifest's ``key_cols`` follow; the bucket hash is over values, not
    names, so placement is untouched). Time travel to pre-rename versions
    reads the OLD logical name; ``diff_bucketed`` across the rename
    matches the column by physical identity and reports it once, under
    the new name. The new name must not collide with any live logical OR
    frozen physical name, and columns referenced by a CHECK constraint /
    generated expression refuse to rename (drop that first — expressions
    are stored as text). Conflicts with any concurrent data commit."""
    read_man = _read_manifest(table, None)
    _refuse_index_column(read_man, old, "rename")
    schema = json.loads(read_man["schema"])
    names = [f["name"] for f in schema["fields"]]
    if old not in names:
        raise ValueError(f"column {old!r} does not exist on {table}")
    cm = dict(_colmap(read_man))
    physicals = {cm.get(n, n) for n in names} | set(read_man.get("retired_cols", []))
    if new in names or new in physicals:
        raise ValueError(
            f"cannot rename {old!r} -> {new!r}: the name collides with a "
            "live logical, frozen physical, or retired (dropped) column name"
        )
    _refuse_referenced(read_man, [old], lambda _: f"cannot rename {old!r}")
    for f in schema["fields"]:
        if f["name"] == old:
            f["name"] = new
    cm[new] = cm.pop(old, old)
    key_cols = [new if k == old else k for k in read_man["key_cols"]]

    def edit(manifest: dict, final: int, dest: str) -> None:
        manifest.update(schema=json.dumps(schema), colmap=cm, key_cols=key_cols)

    return _publish_bucketed(
        table, None, read_man, set(range(int(read_man["n_buckets"]))), edit,
        strict_meta=True,
    )


def maintain_group_agg(
    base: DataFrame,
    changes: DataFrame,
    group_col: str,
    value_col: str,
    n_col: str = "n_rows",
    sum_col: str = "sum_value",
) -> DataFrame:
    """Incremental view maintenance of a (group → count, sum) aggregate
    from a :func:`diff_bucketed` change feed — the materialized-view
    story real lakehouses build on CDF: instead of rescanning the table,
    the view absorbs the DELTA. Each change row contributes signed
    updates: deletes retract (−1, −value_old) from the OLD group,
    inserts add (+1, +value_new) to the NEW group, updates do both —
    which also handles rows whose group itself changed (retract old
    group, add new group). Groups whose count reaches zero drop out of
    the view.

    ``base`` must have columns (group_col, n_col, sum_col). ``changes``
    is diff_bucketed output: ``_action`` + ``<col>_old``/``<col>_new``
    for data columns (key columns appear unsuffixed and never change —
    both spellings are accepted for group/value columns).

    Scale shape: the delta aggregates the CHANGE SET (≈ merge batch
    size, not table size) with one partial-agg shuffle on the group key,
    then one group-keyed full-outer merge against the |groups|-row view.
    A 0.1 % merge maintains the view for ~0.1 % of the recompute cost;
    correctness (maintained == full recompute) is pytest- and
    oracle-asserted."""
    import pyspark.sql.functions as F

    def _side(col: str, suffix: str):
        name = f"{col}_{suffix}"
        return F.col(name) if name in changes.columns else F.col(col)

    retract = changes.filter(F.col("_action").isin("deleted", "updated")).select(
        _side(group_col, "old").alias("_g"),
        F.lit(-1).cast("bigint").alias("_dn"),
        (-_side(value_col, "old")).alias("_dv"),
    )
    add = changes.filter(F.col("_action").isin("inserted", "updated")).select(
        _side(group_col, "new").alias("_g"),
        F.lit(1).cast("bigint").alias("_dn"),
        _side(value_col, "new").alias("_dv"),
    )
    delta = (
        retract.unionAll(add)
        .groupBy("_g")
        .agg(F.sum("_dn").alias("_dn"), F.sum("_dv").alias("_dv"))
    )
    merged = base.join(delta, base[group_col] == delta["_g"], "full_outer")
    return (
        merged.select(
            F.coalesce(base[group_col], F.col("_g")).alias(group_col),
            (
                F.coalesce(F.col(n_col), F.lit(0)) + F.coalesce(F.col("_dn"), F.lit(0))
            ).cast("bigint").alias(n_col),
            (
                F.coalesce(F.col(sum_col), F.lit(0)) + F.coalesce(F.col("_dv"), F.lit(0))
            ).alias(sum_col),
        )
        .filter(F.col(n_col) > 0)
    )


def optimize_bucketed(
    spark: SparkSession,
    table: str,
    buckets: "list[int] | None" = None,
    meta: dict | None = None,
    zorder_by: "list[tuple[str, float, float]] | None" = None,
    zorder_bits: int = 8,
) -> int:
    """OPTIMIZE — compact the current state of selected buckets (default:
    every bucket that has accumulated deletion vectors) into freshly
    written files under a new version: DVs fold into the data and clear,
    small files from repeated merges collapse, and the logical table is
    BIT-IDENTICAL before and after (pytest-asserted) — the maintenance
    half of the deletion-vector trade, same contract as Delta OPTIMIZE /
    Iceberg rewrite_data_files. Untouched buckets keep their owning
    version; time travel to pre-optimize versions still works. Returns
    the new version (or the current one when nothing needs optimizing).

    ``zorder_by`` = [(col, lo, hi), ...] additionally sorts the rewritten
    rows within each bucket by the Morton key (``io.zorder_key``) —
    Delta ``OPTIMIZE ZORDER BY``: rows close in every listed dimension
    co-locate, so parquet row-group min/max stats turn multi-column box
    predicates into row-group skips inside each bucket. Pure layout
    change: same contract, same bit-identical logical table."""
    import pyspark.sql.functions as F

    man = _read_manifest(table)
    keys, n_buckets = man["key_cols"], man["n_buckets"]
    if buckets is None:
        buckets = sorted(int(b) for b in man.get("dv", {}))
    affected = [b for b in buckets if man["buckets"].get(str(b)) is not None]
    dv_only = [b for b in buckets if b not in affected and str(b) in man.get("dv", {})]
    if not affected and not dv_only:
        return man["version"]
    rows = None
    if affected:
        paths = list(_live_bucket_dirs(table, man, set(affected)).values())
        rows = _apply_dv(
            spark, _read_bucket_files(spark, man, paths), table, man, set(affected)
        ).withColumn("__bucket", _bucket_expr(keys, n_buckets))
        if zorder_by:
            from semantic_index_spark.sources.io import zorder_key

            zkey = zorder_key(zorder_by, bits=zorder_bits)
            if _indexes(man):
                # the indexed commit's grouped pass sorts each bucket by it
                rows = rows.withColumn(_ZKEY, zkey)
            else:
                # one task per rewritten bucket, rows z-ordered inside it —
                # partitionBy then writes each bucket's file in z-key order
                rows = rows.repartition(
                    max(len(affected), 1), F.col("__bucket")
                ).sortWithinPartitions(F.col("__bucket"), zkey)
    base = {
        "schema": man["schema"],
        "meta": dict(meta) if meta else {},
        "__affected": affected + dv_only,
    }
    if rows is None:
        rows = spark.createDataFrame([], _manifest_schema(man)).withColumn(
            "__bucket", F.lit(0).cast("bigint")
        )
    # co-committed indexes: OPTIMIZE is the compaction half of the DV trade
    # for the index too — the commit rebuilds the rewritten buckets' shards
    # from the DV-FOLDED content, so when this manifest clears the DV lists
    # the serve (which stops applying those keys as tombstones) finds the
    # deleted nodes physically gone from the graph, never resurrected
    return _commit_bucketed(
        table, rows, base, man, dv_clear=set(affected) | set(dv_only)
    )
