"""Iceberg-style hidden partitioning: transform-column pruning.

[absent in reference — north-star extension] Plain Hive-style partitioning
makes the LAYOUT part of the query contract: users must filter on the
physical partition column (``dt='2026-01-01'``) or they silently full-scan,
and changing the layout breaks every query. Iceberg's fix — the idea this
module implements on the snapshot store — is *hidden* partitioning: the
table declares partition TRANSFORMS of source columns (``day(ts)``,
``bucket(16, user_id)``, ``truncate(4, code)``, ``identity(col)``); writers
derive partition values automatically, and readers filter on the SOURCE
column while the format rewrites those predicates into partition-value
predicates. Queries never mention a partition column; the layout can evolve
without touching them.

Layout (on the ``versioned`` snapshot contract — immutable versions, atomic
pointer, time travel):

    <table>/v=<n>/_p0=<val>/_p1=<val>/...parquet
    <table>/_hidden_spec.json      (the transform spec, fixed at create)
    <table>/_latest.json           ({"version": n}, atomic rename)

Scale note — why this matters at 100 TB: the rewritten predicates land on
PARTITION columns of the parquet scan (``PartitionFilters`` in the plan,
plan-lock pytest), so pruning happens at planning time from directory
names. A 3-day window over a 5-year ``day(ts)``-partitioned table lists ~3
directories out of ~1800 and never opens the rest; a key lookup against
``bucket(N, k)`` reads 1/N of the table. The residual source-column filter
still applies on the survivors, so rewriting is purely an IO optimization —
results are identical with pruning on or off (pytest-asserted), which is
also why the DuckDB oracles are the plain source predicates.

Transform monotonicity is what makes rewriting sound (same rules Iceberg
ships): ``identity``/``day``/``month``/``truncate`` are order-preserving,
so range predicates map to range predicates on the transformed value
(inclusive at the boundary — the residual tightens strict bounds);
``bucket`` is not order-preserving, so only ``=`` / ``in`` prune and every
other operator falls back to residual-only. The bucket hash is the
portable md5 primitive (``functions.text.md5_bigint``) so the planner can
evaluate it driver-side on literals without a Spark job.

Two soundness preconditions are ENFORCED, not assumed, because a wrong
partition rewrite silently drops rows the residual cannot recover (the
pruned files are never opened):

- ``day``/``month`` render timestamps in the session time zone, so the
  table's zone is part of the layout: ``create_hidden`` records the
  writer's ``spark.sql.session.timeZone`` in ``_hidden_spec.json`` and
  both ``commit_hidden`` and ``read_hidden`` fail fast when the current
  session zone differs — re-set the session zone (or rewrite the table)
  instead of reading wrong slices.
- ``bucket`` hashes the Spark ``cast(col AS STRING)`` rendering writer-side
  but a Python ``str(literal)`` reader-side; the two agree only for
  integer and string types (bool: ``'True'`` vs ``'true'``; double:
  ``'1e+20'`` vs ``'1.0E20'``; decimal scales), so bucket source columns
  are restricted to int/string at commit time and bucket literals to
  int/str at read time.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StringType

from semantic_index_spark.functions.text import md5_bigint
from semantic_index_spark.sources import skipping
from semantic_index_spark.sources.versioned import (
    _hidden_spec_path,
    _publish_staged,
    _resolve_version,
    _staged_path,
    _version_dir,
    current_version,
)

_BUCKET_SALT = "hpart:"

_RANGE_OPS = {"=", "<", "<=", ">", ">="}


def _norm_spec(spec: list) -> list[dict]:
    out = []
    for i, entry in enumerate(spec):
        t, col = entry[0], entry[1]
        arg = entry[2] if len(entry) > 2 else None
        if t in ("bucket", "truncate") and (not isinstance(arg, int) or arg < 1):
            raise ValueError(f"{t} transform needs a positive int arg, got {arg!r}")
        if t not in ("identity", "day", "month", "bucket", "truncate"):
            raise ValueError(f"unknown partition transform {t!r}")
        out.append({"name": f"_p{i}", "transform": t, "col": col, "arg": arg})
    return out


def _transform_col(entry: dict) -> Column:
    """The writer-side derived partition value, as a Spark expression."""
    t, col, arg = entry["transform"], F.col(entry["col"]), entry["arg"]
    if t == "identity":
        return col
    if t == "day":
        return F.date_format(col, "yyyy-MM-dd")
    if t == "month":
        return F.date_format(col, "yyyy-MM")
    if t == "bucket":
        return F.pmod(md5_bigint(col.cast("string"), salt=_BUCKET_SALT), F.lit(arg))
    if t == "truncate":
        # order-preserving for STRING columns (lexicographic prefix);
        # numeric columns would need Iceberg's floor-to-width variant to
        # stay monotone — out of scope, declare truncate on strings only
        return F.substring(col, 1, arg)
    raise AssertionError(t)


def _transform_literal(entry: dict, value):
    """The same transform applied to a Python literal, driver-side — what
    lets the reader rewrite a source predicate without running a job."""
    t, arg = entry["transform"], entry["arg"]
    if t == "identity":
        return value
    if t in ("day", "month"):
        if isinstance(value, str):
            v = datetime.datetime.fromisoformat(value)
        elif isinstance(value, (datetime.datetime, datetime.date)):
            v = value
        else:
            raise TypeError(f"{t} transform literal must be a timestamp, got {value!r}")
        return v.strftime("%Y-%m-%d" if t == "day" else "%Y-%m")
    if t == "bucket":
        # only int/str literals render identically under Python str() and
        # Spark cast-to-string (see module docstring); anything else would
        # hash into the wrong bucket and silently exclude the matching
        # partition
        if isinstance(value, bool) or not isinstance(value, (int, str)):
            raise TypeError(
                f"bucket transform literal must be int or str, got {value!r} "
                f"({type(value).__name__}) — its Spark string rendering is "
                "not guaranteed to match Python's"
            )
        digest = hashlib.md5((_BUCKET_SALT + str(value)).encode()).hexdigest()
        return int(digest[:15], 16) % arg
    if t == "truncate":
        return str(value)[:arg]
    raise AssertionError(t)


def _session_tz(spark: SparkSession) -> str:
    return spark.conf.get("spark.sql.session.timeZone")


def _check_tz(table: str, spark: SparkSession, meta: dict, action: str) -> None:
    """Fail fast when the session zone differs from the table's pinned zone
    — day/month partition values were RENDERED in the writer's zone, so a
    different session would derive (writer) or prune (reader) the wrong
    directories, silently dropping rows the residual cannot recover."""
    pinned = meta.get("time_zone")
    if pinned is None:  # pre-r8 table: no recorded zone, keep legacy behavior
        return
    cur = _session_tz(spark)
    if cur != pinned:
        raise ValueError(
            f"cannot {action} hidden-partitioned table {table}: its day/month "
            f"partition values are rendered in time zone {pinned!r} but "
            f"spark.sql.session.timeZone is {cur!r} — set the session zone to "
            f"the table's zone (results would otherwise silently lose rows)"
        )


_BUCKET_OK_DTYPES = skipping._INT_DTYPES + ("string",)


def _record_dtypes(df: DataFrame, entries: list[dict]) -> None:
    """Pin each transform's SOURCE column dtype into the spec at create
    time. Identity pruning is dtype-dispatched (see ``_identity_prunable``):
    a string column holding digit strings renders directories that
    int-parse, and without the recorded dtype a reader cannot tell whether
    the residual comparison is numeric (int column → prune numerically) or
    code-point lexicographic (string column → prune lexicographically) —
    guessing numerically silently loses rows ('9' >= '10' is TRUE under
    string semantics, FALSE under numeric)."""
    dtypes = dict(df.dtypes)
    for e in entries:
        e["dtype"] = dtypes.get(e["col"])


def _check_bucket_dtypes(df: DataFrame, entries: list[dict]) -> None:
    dtypes = dict(df.dtypes)
    for e in entries:
        if e["transform"] != "bucket":
            continue
        dt = dtypes.get(e["col"])
        if dt not in _BUCKET_OK_DTYPES:
            raise TypeError(
                f"bucket transform on column {e['col']!r} of type {dt!r} is "
                f"not supported: only {_BUCKET_OK_DTYPES} render identically "
                "under Spark cast-to-string (writer) and Python str() "
                "(reader literal), and a mismatch prunes the wrong bucket"
            )


def create_hidden(df: DataFrame, table: str, spec: list) -> int:
    """Create a hidden-partitioned table: ``spec`` is a list of transform
    tuples — ``("identity", col)``, ``("day", ts_col)``,
    ``("month", ts_col)``, ``("bucket", col, n)``,
    ``("truncate", col, width)``. The spec is fixed at create time and
    recorded next to the data; writers never see partition columns. The
    creating session's time zone is pinned alongside the spec (see module
    docstring); bucket source columns must be int/string typed."""
    os.makedirs(table, exist_ok=True)
    if os.path.exists(_hidden_spec_path(table)):
        raise FileExistsError(f"hidden-partitioned table {table} already exists")
    entries = _norm_spec(spec)
    _check_bucket_dtypes(df, entries)
    _record_dtypes(df, entries)
    with open(_hidden_spec_path(table), "w") as f:
        json.dump({"spec": entries, "time_zone": _session_tz(df.sparkSession)}, f)
    return commit_hidden(df, table)


def commit_hidden(df: DataFrame, table: str) -> int:
    """Commit the next immutable snapshot version, deriving the partition
    values from the recorded spec — the writer's schema is the SOURCE
    schema; hidden columns exist only in the layout. Same optimistic
    crash/concurrency contract as ``versioned.commit_version``: staged
    write, conditional publish, invisible ``_staged_*`` orphans on
    crash."""
    meta = _read_meta(table)
    entries = meta["spec"]
    _check_tz(table, df.sparkSession, meta, "commit to")
    _check_bucket_dtypes(df, entries)
    expected = current_version(table)
    out = df
    for e in entries:
        out = out.withColumn(e["name"], _transform_col(e))
    staged = _staged_path(table)
    (
        out.write.mode("errorifexists")
        .partitionBy(*[e["name"] for e in entries])
        .parquet(staged)
    )
    return _publish_staged(table, staged, expected)


def _read_meta(table: str) -> dict:
    with open(_hidden_spec_path(table)) as f:
        return json.load(f)


def expire_hidden(
    table: str, keep_last: int = 2, orphan_ttl_seconds: float = 24 * 3600.0
) -> list[int]:
    """Retention for hidden-partitioned tables (r9 — completes the
    create/commit/read/time-travel/expire lifecycle): hidden snapshots
    are self-contained ``v=<n>`` directories under the same
    latest-pointer layout as the plain versioned store (the composed
    variant's zone-map manifest lives INSIDE its version directory, so
    it expires with it), so the versioned store's age-gated retention —
    including ``_staged_*`` orphan reclaim — applies verbatim. Returns
    the expired version numbers."""
    from semantic_index_spark.sources import versioned as _ver

    return _ver.expire_versions(
        table, keep_last=keep_last, orphan_ttl_seconds=orphan_ttl_seconds
    )


def _range_push_sound(e: dict, inferred, value) -> bool:
    """Is a PLAN-time range rewrite (< <= > >=) on partition column
    ``e["name"]`` sound, given the type Spark's partition-value inference
    assigned to it? Equality/IN rewrites are always sound (many-to-one +
    residual can only over-keep), but a RANGE prune must order directories
    the way the residual orders source values. The one unsound family:
    a STRING source column whose directory values all parse as something
    else — inference yields a numeric/temporal partition column, the
    rewritten bound compares numerically, the residual compares by code
    point, and the mismatch PRUNES directories the residual matches
    ('_p0=9' pruned by ``p >= '10'`` though '9' >= '10' under string
    semantics). Every other combination is sound because inference
    recovers the source type and Spark then compares both sides under the
    source semantics."""
    t = e["transform"]
    if t == "truncate":
        # truncate sources are strings by contract; the prefix directories
        # must still BE strings after inference
        return isinstance(inferred, StringType)
    if t != "identity":
        return True  # day/month render fixed-width ISO: date/string both order correctly
    if isinstance(value, bool) or not isinstance(value, str):
        return True  # numeric/temporal literal: residual is non-lexicographic
    dtype = e.get("dtype")
    if dtype in skipping._INT_DTYPES:
        return True  # numeric residual on an int column
    if dtype in ("string", None):
        # string (or unknown pre-r10) source: sound only when inference
        # kept the verbatim strings
        return isinstance(inferred, StringType)
    return True  # double/timestamp/…: inference recovers the type


def read_hidden(
    spark: SparkSession,
    table: str,
    filters: list[tuple] | None = None,
    version: int | None = None,
    as_of_ts=None,
) -> DataFrame:
    """Read with transform-column pruning: ``filters`` are predicates on
    SOURCE columns — triples ``(col, op, value)`` with op in
    ``= < <= > >= in`` — exactly what the user would write in a WHERE
    clause. For every filter whose column carries a transform, the matching
    partition predicate is derived and pushed onto the partition column
    (planning-time directory pruning); the original source predicate is
    ALWAYS applied as the residual, so results never depend on pruning.
    Columns with no usable rewrite (e.g. a range over ``bucket``) simply
    prune nothing. Returns the SOURCE schema — hidden columns are dropped.
    ``as_of_ts`` resolves a wall-clock time to a version
    (``versioned.resolve_as_of``) — hidden tables share the versioned
    store's commit-timestamp ledger."""
    if as_of_ts is not None:
        from semantic_index_spark.sources.versioned import resolve_as_of

        if version is not None:
            raise ValueError("pass version OR as_of_ts, not both")
        version = resolve_as_of(table, as_of_ts)
    v = _resolve_version(table, version)
    meta = _read_meta(table)
    entries = meta["spec"]
    _check_tz(table, spark, meta, "read")
    df = spark.read.parquet(_version_dir(table, v))
    for col, op, value in filters or []:
        # partition-predicate rewrite
        for e in entries:
            if e["col"] != col:
                continue
            p = F.col(e["name"])
            if op == "in":
                # every transform is many-to-one, so x IN {v…} implies
                # T(x) IN {T(v)…} — always rewritable
                df = df.filter(p.isin([_transform_literal(e, x) for x in value]))
            elif op in _RANGE_OPS:
                if e["transform"] == "bucket":
                    if op == "=":
                        df = df.filter(p == _transform_literal(e, value))
                    # bucket is not order-preserving: other ops don't prune
                else:
                    lit = _transform_literal(e, value)
                    # order-preserving transforms are many-to-one, so strict
                    # bounds relax to inclusive at the transformed boundary;
                    # the residual restores strictness
                    if op == "=":
                        df = df.filter(p == lit)
                    elif not _range_push_sound(
                        e, df.schema[e["name"]].dataType, value
                    ):
                        pass  # residual-only: the rewrite would mis-order
                    elif op in ("<", "<="):
                        df = df.filter(p <= lit)
                    else:
                        df = df.filter(p >= lit)
    # residual: the user's actual predicates, verbatim
    return skipping._residual(df, filters).drop(*[e["name"] for e in entries])


# --------------------------------------------------------------------------
# Composed layout: hidden partitioning × zone-map file skipping
#
# A real lakehouse table prunes at BOTH granularities on one layout:
# partition transforms eliminate whole directories at planning time, and
# per-file min/max statistics eliminate files INSIDE the surviving
# directories (Iceberg: partition spec + manifest column stats; Delta:
# partitioning + data skipping). The composed functions below put a
# per-version zone-map manifest next to the hidden-partitioned snapshot:
#
#     <table>/v=<n>/_p0=<val>/.../part-*.parquet
#     <table>/v=<n>/_zonemaps.json     (per-file min/max, RELATIVE paths)
#     <table>/_hidden_spec.json        (+ skipping config, fixed at create)
#     <table>/_latest.json
#
# The reader evaluates BOTH prunings driver-side from the manifest — the
# partition values are parsed out of each file's relative path and checked
# against the transformed literals (the same _transform_literal rewrite
# read_hidden pushes into the plan), then the survivors' [min, max] ranges
# are checked with skipping's _file_may_match — and hands Spark only the
# final file list (with basePath, so partition dirs still parse). Pruned
# directories are never even listed. Residual source predicates always
# apply, so results are pruning-independent at both levels (pytest + the
# hidden_skipping_compose driver oracle assert this).


def _skip_meta(meta: dict) -> dict:
    sk = meta.get("skipping")
    if not sk:
        raise ValueError(
            "table was not created with create_hidden_skipping (no skipping "
            "config in its partition spec)"
        )
    return sk


def _zonemap_path(table: str, version: int) -> str:
    return skipping._manifest_path(_version_dir(table, version))


def _zone_maps(table: str, version: int) -> "dict | None":
    """A composed snapshot's per-file [min, max] ranges keyed by path
    relative to the version directory; None when the version has none."""
    path = _zonemap_path(table, version)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)["files"]


def create_hidden_skipping(
    df: DataFrame,
    table: str,
    spec: list,
    stats_cols: list[str],
    n_files: int = 32,
    cluster_by: str | None = None,
) -> int:
    """Create a hidden-partitioned table that ALSO records per-file zone
    maps for ``stats_cols``. ``n_files`` shapes the total file count per
    commit; ``cluster_by`` range-clusters rows WITHIN partitions on that
    column (after the partition transforms), which is what makes the
    intra-partition zone maps selective — the same layout lever as
    ``skipping.write_skipping``. Config is fixed at create time so every
    commit's files skip identically."""
    os.makedirs(table, exist_ok=True)
    if os.path.exists(_hidden_spec_path(table)):
        raise FileExistsError(f"hidden-partitioned table {table} already exists")
    entries = _norm_spec(spec)
    _check_bucket_dtypes(df, entries)
    _record_dtypes(df, entries)
    with open(_hidden_spec_path(table), "w") as f:
        json.dump(
            {
                "spec": entries,
                "time_zone": _session_tz(df.sparkSession),
                "skipping": {
                    "stats_cols": list(stats_cols),
                    "n_files": n_files,
                    "cluster_by": cluster_by,
                },
            },
            f,
        )
    return commit_hidden_skipping(df, table)


def commit_hidden_skipping(df: DataFrame, table: str) -> int:
    """Commit the next immutable snapshot of a composed table: derive the
    partition values, range-cluster within partitions, write to staging,
    then one read-back pass computes every file's [min, max] per tracked
    column; the publish is conditional (``_publish_staged``) and the
    version's zone-map manifest lands BEFORE the pointer rename, so a
    crash leaves an invisible staged orphan or a pointerless version,
    never a published version without stats."""
    meta = _read_meta(table)
    entries = meta["spec"]
    sk = _skip_meta(meta)
    _check_tz(table, df.sparkSession, meta, "commit to")
    _check_bucket_dtypes(df, entries)
    expected = current_version(table)
    out = df
    for e in entries:
        out = out.withColumn(e["name"], _transform_col(e))
    shape_keys = [F.col(e["name"]) for e in entries]
    if sk["cluster_by"]:
        shape_keys.append(F.col(sk["cluster_by"]))
    staged = _staged_path(table)
    (
        out.repartitionByRange(sk["n_files"], *shape_keys)
        .write.mode("errorifexists")
        .partitionBy(*[e["name"] for e in entries])
        .parquet(staged)
    )
    # stats are computed on the STAGED layout (relative `_f` keys survive
    # the rename unchanged), keeping the Spark job outside the pointer
    # critical section
    back = df.sparkSession.read.parquet(staged)
    rel = F.regexp_extract(
        F.input_file_name(), "/" + os.path.basename(staged) + "/(.*)$", 1
    )
    stats = back.groupBy(rel.alias("_f")).agg(
        *[
            agg(c).cast("string").alias(f"{kind}_{c}")
            for c in sk["stats_cols"]
            for kind, agg in (("min", F.min), ("max", F.max))
        ]
    )
    from semantic_index_spark.session import collect_bounded

    # file count per commit <= range tasks + partition-dir straddles, so the
    # driver-held manifest is bounded by n_files + #dirs (counted from the
    # just-written layout, no extra job) — same manifest-is-the-model
    # contract as skipping.write_skipping
    n_dirs = sum(1 for _, dirs, fns in os.walk(staged) if not dirs and fns)
    files = {}
    for r in collect_bounded(
        stats, 4 * (sk["n_files"] + n_dirs) + 16, "hidden_skipping stats"
    ):
        files[r["_f"]] = {c: [r[f"min_{c}"], r[f"max_{c}"]] for c in sk["stats_cols"]}

    def _write_zonemap(nxt: int) -> None:
        with open(_zonemap_path(table, nxt), "w") as f:
            json.dump({"files": files}, f)

    return _publish_staged(table, staged, expected, before_pointer=_write_zonemap)


def _parse_partition_values(relpath: str) -> dict[str, str]:
    """``_p0=a/_p1=b/part-x.parquet`` → {"_p0": "a", "_p1": "b"} (values as
    the directory-name strings Spark rendered)."""
    from urllib.parse import unquote

    out = {}
    for seg in relpath.split("/")[:-1]:
        if "=" in seg:
            k, v = seg.split("=", 1)
            out[k] = unquote(v)
    return out


def _identity_prunable(pval: str, value, dtype: "str | None" = None):
    """For an identity transform, return the comparable (a, b) pair when the
    directory rendering is PROVABLY faithful to the Python literal AND the
    comparison semantics provably match the residual's, else None (keep the
    directory; the residual filters). Dispatch is on the SOURCE column
    dtype recorded at create time (``_record_dtypes``):

    - integral dtype → numeric: int-parse both sides (same exactness
      contract as skipping._coerce, never through float); a literal that
      doesn't int-parse can't prune (the residual's cast makes it match
      nothing anyway).
    - string dtype → code-point lexicographic on the verbatim directory
      string (Spark's partition value IS the source string, and
      Python/Spark string ordering both follow code points). An int
      literal against a string column compares NUMERICALLY in the residual
      (Spark casts through double), so it prunes via int-parse when the
      directory parses.
    - unknown dtype (pre-r10 table, no recorded dtype): a directory that
      int-parses is ambiguous — it may be an int column (numeric residual)
      or a string column holding digit strings (lexicographic residual) —
      so it is never pruned; a non-parsing directory can only be a
      string-rendered source, pruned lexicographically for str literals.
    - any other dtype (double, timestamp, decimal, …) → None: the
      rendering ('1.0E20', '2024-01-01 00:00:00') neither equals Python's
      str() nor orders lexicographically."""
    if isinstance(value, bool) or not isinstance(value, (int, str)):
        return None
    if isinstance(value, int) or (dtype in skipping._INT_DTYPES):
        try:
            return int(pval), int(value)
        except (TypeError, ValueError):
            return None
    # str literal from here on
    if dtype == "string":
        return pval, value
    if dtype is None:
        try:
            int(pval)
            return None  # ambiguous without the dtype — keep the directory
        except (TypeError, ValueError):
            return pval, value
    return None


def _pval_matches(entry: dict, pval: str, op: str, value) -> bool:
    """Driver-side partition-directory predicate: does a directory whose
    transformed value rendered as ``pval`` possibly hold rows matching
    ``col op value``? Mirrors read_hidden's rewrite rules exactly
    (inclusive relaxation for ranges; bucket prunes only on =/in;
    identity prunes only when the rendering is provably faithful —
    see _identity_prunable)."""
    t = entry["transform"]
    if op == "in":
        if t == "identity":
            for x in value:
                ab = _identity_prunable(pval, x, entry.get("dtype"))
                if ab is None:
                    return True  # one unverifiable member keeps the dir
                if ab[0] == ab[1]:
                    return True
            return False
        want = {str(_transform_literal(entry, x)) for x in value}
        return pval in want
    if t == "bucket":
        if op == "=":
            return pval == str(_transform_literal(entry, value))
        return True  # not order-preserving: other ops cannot prune
    if t == "identity":
        ab = _identity_prunable(pval, value, entry.get("dtype"))
        if ab is None:
            return True
        a, b = ab
    else:
        # day/month/truncate render as strings that compare
        # lexicographically in ISO/prefix form
        a, b = pval, str(_transform_literal(entry, value))
    if op == "=":
        return a == b
    if op in ("<", "<="):
        return a <= b  # strict bounds relax; residual restores them
    return a >= b


def _file_may_hold(by_col: dict, relpath: str, ranges: "dict | None", filters) -> bool:
    """The one per-file keep predicate of hidden-partitioned reads: can
    the file at ``relpath`` (relative to its version directory) hold rows
    matching every filter? Directory level: its partition values against
    the transformed literals (:func:`_pval_matches`); file level: its
    zone-map ``ranges`` (None = no zone maps). A rewrite that cannot
    evaluate a literal (e.g. a float against a bucket transform) keeps
    the file — pruning is IO-only and the residual filters every row."""
    pvals = _parse_partition_values(relpath)
    for col, op, value in filters:
        e = by_col.get(col)
        if e is not None and op not in ("is_null", "is_not_null"):
            try:
                if not _pval_matches(e, pvals[e["name"]], op, value):
                    return False
            except (TypeError, ValueError, KeyError):
                pass
        if ranges is not None and not skipping._file_may_match(ranges, col, op, value):
            return False
    return True


def candidate_files_hidden(
    table: str, filters: list[tuple] | None = None, version: int | None = None
) -> list[str]:
    """The relative file paths read_hidden_skipping would scan, after BOTH
    prunings — exposed so tests can assert each level's selectivity
    independently (directory prune via the path prefix, file prune via
    the count within surviving directories)."""
    meta = _read_meta(table)
    _skip_meta(meta)
    v = _resolve_version(table, version)
    zmap = _zone_maps(table, v)
    if zmap is None:
        raise FileNotFoundError(f"version {v} of {table} has no zone maps")
    by_col = {e["col"]: e for e in meta["spec"]}
    return sorted(
        rel for rel, ranges in zmap.items()
        if _file_may_hold(by_col, rel, ranges, filters or [])
    )


def read_hidden_skipping(
    spark: SparkSession,
    table: str,
    filters: list[tuple] | None = None,
    version: int | None = None,
) -> DataFrame:
    """Read with BOTH prunings: source-column ``filters`` (triples, op in
    ``= < <= > >= in``) first eliminate partition directories via the
    transform rewrite, then files inside surviving directories via their
    zone maps; the original predicates always apply as residuals on the
    survivors, so results are identical with pruning on or off at either
    level. Returns the SOURCE schema."""
    meta = _read_meta(table)
    entries = meta["spec"]
    _check_tz(table, spark, meta, "read")
    v = _resolve_version(table, version)
    vdir = _version_dir(table, v)
    keep = candidate_files_hidden(table, filters, version=v)
    if not keep:
        df = spark.read.parquet(vdir).filter(F.lit(False))
    else:
        df = spark.read.option("basePath", vdir).parquet(
            *[os.path.join(vdir, fn) for fn in keep]
        )
    return skipping._residual(df, filters).drop(*[e["name"] for e in entries])
