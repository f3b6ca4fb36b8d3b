"""File-level data skipping via zone maps (min/max statistics).

[absent in reference — north-star extension] The second half of the
lakehouse pruning story, complementing transform partitioning
(:mod:`.hidden`): partitioning prunes on the DECLARED layout columns, but
real tables also skip FILES inside a partition using per-file min/max
statistics — Delta's data skipping, Iceberg's manifest column stats,
parquet row-group stats one level up. A predicate on any stats-tracked
column eliminates every file whose [min, max] range cannot contain a
match, before Spark ever lists it in the scan.

Layout:

    <table>/data/part-*.parquet        (the data files)
    <table>/_zonemaps.json             (per-file min/max per tracked column)

The effectiveness lever — and the reason write_skipping takes
``cluster_by`` — is LAYOUT, not the stats themselves: on randomly
distributed data every file spans the whole value domain and nothing
skips; range-clustering the write (``repartitionByRange`` on the tracked
column, Delta's OPTIMIZE ZORDER at one dimension) makes each file own a
narrow slice so a point or range predicate touches ~1/N of them. The
pytest asserts both halves: clustered → most files skipped, unclustered →
skipping still CORRECT (never drops a matching row) just not useful.

Skipping is IO-only: the residual predicate always applies on the
surviving files, so results are skipping-independent (the DuckDB oracle is
the plain predicate on the raw table). At 100 TB the manifest is one tiny
JSON per table (statistics, not data) and the candidate-file selection is
a driver-side scan of n_files entries — the same cost profile real table
formats pay reading manifests.
"""

from __future__ import annotations

import base64
import datetime
import hashlib
import json
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from semantic_index_spark.functions.bloom import _positions

_MANIFEST = "_zonemaps.json"
_INT_DTYPES = ("tinyint", "smallint", "int", "bigint")


def _manifest_path(root: str) -> str:
    """The zone-map manifest of a skipping table, or of a composed hidden
    snapshot when ``root`` is its version directory."""
    return os.path.join(root, _MANIFEST)


def _data_dir(table: str) -> str:
    return os.path.join(table, "data")


def write_skipping(
    df: DataFrame,
    table: str,
    stats_cols: list[str],
    n_files: int = 32,
    cluster_by: str | None = None,
    bloom_cols: list[str] | None = None,
    bloom_m: int = 1 << 17,
    bloom_k: int = 4,
) -> int:
    """Write ``df`` as ``n_files`` parquet files plus a zone-map manifest of
    per-file min/max for every column in ``stats_cols``. ``cluster_by``
    range-partitions the write on that column first — the layout lever
    that makes the zone maps selective. Returns the number of data files
    written.

    ``cluster_by`` may also be a Column EXPRESSION — pass
    ``io.zorder_key([...])`` to range-cluster on the Morton key, which
    makes the zone maps selective in EVERY keyed dimension at once
    (Delta/Iceberg ``OPTIMIZE ZORDER BY``): a box predicate over k
    columns then prunes files on each column independently, where 1-D
    clustering leaves every non-clustered column's per-file range spanning
    the domain.

    ``bloom_cols`` additionally records a per-file BLOOM bitmap (Delta's
    bloom-filter-index story): zone maps only skip when the layout is
    clustered on the filtered column, but a Bloom filter skips POINT
    lookups (``=`` / ``in``) on any column regardless of layout — a
    definitely-absent key eliminates the file. Bits are the portable md5
    positions of :mod:`..functions.bloom` (computed JVM-side over the
    data, evaluated driver-side on probe literals), packed to an m-bit
    bitmap per (file, column) and base64-embedded in the manifest; real
    formats store the same bitmap in the file footer. Size ``bloom_m``
    for the per-file distinct count (fp ≈ (1−e^(−k·n/m))^k). Each bloom
    column's Spark type is recorded next to its bitmaps, because the bits
    hash Spark's string rendering of the value (see
    :func:`_bloom_may_match`)."""
    os.makedirs(table, exist_ok=True)
    if os.path.exists(_manifest_path(table)):
        raise FileExistsError(f"skipping table {table} already exists")
    data = _data_dir(table)
    ck = F.col(cluster_by) if isinstance(cluster_by, str) else cluster_by
    shaped = (
        df.repartitionByRange(n_files, ck)
        if cluster_by is not None
        else df.repartition(n_files)
    )
    shaped.write.mode("errorifexists").parquet(data)
    back = df.sparkSession.read.parquet(data)
    fname = F.element_at(F.split(F.input_file_name(), "/"), -1)
    # one pass over the written files computes every file's column ranges,
    # row count, and per-column null counts (Delta's nullCount stats — the
    # only evidence that can prune IS NULL / IS NOT NULL predicates)
    stats = back.groupBy(fname.alias("_f")).agg(*_stats_aggs(stats_cols))
    from semantic_index_spark.session import collect_bounded

    files = {}
    nulls = {}
    for r in collect_bounded(stats, n_files, "write_skipping file stats"):
        files[r["_f"]] = {
            c: [r[f"min_{c}"], r[f"max_{c}"]] for c in stats_cols
        }
        nulls[r["_f"]] = _null_entry(r, stats_cols)
    blooms: dict[str, dict[str, str]] = {}
    for c in bloom_cols or []:
        # distinct (file, bit) stays distributed; only ≤ n_files rows of
        # ≤ m packed ints reach the driver (one-time write cost)
        bits = (
            back.where(F.col(c).isNotNull())
            .select(
                fname.alias("_f"),
                F.explode(_positions(c, bloom_m, bloom_k)).alias("bit"),
            )
            .groupBy("_f")
            .agg(F.collect_set("bit").alias("bits"))
        )
        for r in collect_bounded(bits, n_files, "write_skipping bloom bitmaps"):
            bm = bytearray(bloom_m // 8 + 1)
            for b in r["bits"]:
                bm[b >> 3] |= 1 << (b & 7)
            blooms.setdefault(r["_f"], {})[c] = base64.b64encode(bytes(bm)).decode()
    man = {"stats_cols": stats_cols, "files": files, "nulls": nulls}
    if bloom_cols:
        dtypes = dict(df.dtypes)
        man["bloom"] = {
            "cols": bloom_cols,
            "types": {c: dtypes[c] for c in bloom_cols},
            "m": bloom_m,
            "k": bloom_k,
            "files": blooms,
        }
    with open(_manifest_path(table), "w") as f:
        json.dump(man, f)
    return len(files)


def _stats_aggs(stats_cols: list[str]) -> list:
    """The per-file statistics aggregation list shared by write and append:
    min/max per tracked column (string-rendered), total row count, and
    per-column null counts."""
    aggs = [
        agg(c).cast("string").alias(f"{kind}_{c}")
        for c in stats_cols
        for kind, agg in (("min", F.min), ("max", F.max))
    ]
    aggs.append(F.count(F.lit(1)).alias("_rows"))
    aggs.extend(
        F.sum(F.col(c).isNull().cast("bigint")).alias(f"nulls_{c}")
        for c in stats_cols
    )
    return aggs


def _null_entry(r, stats_cols: list[str]) -> dict:
    return {"rows": r["_rows"], "cols": {c: r[f"nulls_{c}"] for c in stats_cols}}


def _null_may_match(man: dict, fn: str, col: str, op: str) -> bool:
    """Null-count pruning (Delta nullCount zone maps): an all-non-null file
    cannot satisfy IS NULL; an all-null file cannot satisfy IS NOT NULL.
    Tables written before null counts existed (no ``nulls`` section) keep
    every file — conservative, never wrong."""
    if op not in ("is_null", "is_not_null"):
        return True
    nu = man.get("nulls", {}).get(fn)
    if nu is None or col not in nu["cols"]:
        return True
    n = nu["cols"][col]
    return n > 0 if op == "is_null" else n < nu["rows"]


def _bloom_positions_literal(value, m: int, k: int) -> list[int]:
    """Driver-side twin of functions.bloom._positions (md5 contract):
    positions of a probe literal, bit-identical to the JVM expression."""
    out = []
    for r in range(k):
        h = hashlib.md5(f"bloom{r}:{value}".encode()).hexdigest()
        out.append(int(h[:15], 16) % m)
    return out


def _bloom_may_match(man: dict, fn: str, col: str, op: str, value) -> bool:
    """Bloom pruning of a point lookup. The bitmap hashed Spark's
    ``cast(col AS STRING)``, and a Python literal renders the same only
    as an int (not a bool) against an integral column or a str against a
    string column (``5`` vs ``'5.0'`` for a double, ``True`` vs
    ``'true'``); every other literal, and a manifest with no recorded
    column types, keeps the file."""
    bl = man.get("bloom")
    if not bl or col not in bl["cols"] or op not in ("=", "in"):
        return True
    dtype = bl.get("types", {}).get(col)
    vals = value if op == "in" else [value]
    if not all(
        not isinstance(v, bool)
        and (isinstance(v, int) and dtype in _INT_DTYPES
             or isinstance(v, str) and dtype == "string")
        for v in vals
    ):
        return True
    enc = bl["files"].get(fn, {}).get(col)
    if enc is None:
        return True  # no bitmap recorded (e.g. all-null file): can't rule out
    bm = base64.b64decode(enc)
    for v in vals:
        if all(
            bm[p >> 3] & (1 << (p & 7))
            for p in _bloom_positions_literal(v, bl["m"], bl["k"])
        ):
            return True  # some probed value may be present
    return False


def _coerce(lit, bound: str):
    """Compare a filter literal against a stringified stat bound. Stats are
    stored as strings; timestamps/dates/strings compare lexicographically
    in ISO form, numerics re-parse. Integer literals against integer-string
    bounds compare as exact Python ints — routing them through float would
    lose precision beyond 2^53 and could misclassify a boundary file,
    silently skipping a file that contains matches."""
    if isinstance(lit, int) and not isinstance(lit, bool):
        try:
            return lit, int(bound)
        except ValueError:
            return float(lit), float(bound)  # int literal vs float-typed stat
    if isinstance(lit, float):
        return float(lit), float(bound)
    if isinstance(lit, (datetime.datetime, datetime.date)):
        if isinstance(lit, datetime.datetime):
            # match Spark's cast-to-string rendering: minimal fractional
            # digits ('…05.5', never '…05.500000') — Python's isoformat
            # pads to 6, and the padded form mis-orders against the
            # minimal bound exactly at the boundary file (round 12)
            lit = lit.isoformat(sep=" ")
            if "." in lit:
                lit = lit.rstrip("0").rstrip(".")
        else:
            lit = lit.isoformat()
    return str(lit), str(bound)


def _file_may_match(ranges: dict, col: str, op: str, value) -> bool:
    if col not in ranges:
        return True  # untracked column: no evidence to skip on
    lo, hi = ranges[col]
    if op == "is_not_null":
        # min/max of an all-null file are both null — nothing to match
        return not (lo is None and hi is None)
    if op == "is_null":
        return True  # ranges carry no null evidence; _null_may_match prunes
    if lo is None or hi is None:
        return True  # all-null file or missing stats: cannot rule out
    if op == "in":
        return any(_file_may_match(ranges, col, "=", v) for v in value)
    v, lo2 = _coerce(value, lo)
    _, hi2 = _coerce(value, hi)
    if op == "=":
        return lo2 <= v <= hi2
    if op == "<":
        return lo2 < v
    if op == "<=":
        return lo2 <= v
    if op == ">":
        return hi2 > v
    if op == ">=":
        return hi2 >= v
    raise ValueError(f"unsupported op {op!r}")


def read_skipping(
    spark: SparkSession, table: str, filters: list[tuple] | None = None
) -> DataFrame:
    """Read with zone-map file skipping: ``filters`` are source-column
    triples ``(col, op, value)``, op in ``= < <= > >= in is_null
    is_not_null`` (value ignored for the null ops — pass None). Files
    whose recorded statistics cannot contain a match — [min, max] for
    range/point ops, null counts for the null ops — are never handed to
    the scan; the original predicates always apply as residuals on the
    survivors, so results are identical with skipping on or off. Returns
    an empty DataFrame (correct schema) when every file is skipped."""
    data = _data_dir(table)
    keep = candidate_files(table, filters)
    if not keep:
        return spark.read.parquet(data).filter(F.lit(False))
    df = spark.read.parquet(*[os.path.join(data, fn) for fn in keep])
    return _residual(df, filters)


def _residual(df: DataFrame, filters: list[tuple] | None) -> DataFrame:
    """Apply ``(col, op, value)`` filters verbatim: the residual every
    pruned read (skipping and hidden-partitioned) ends with, so results
    never depend on which files were pruned."""
    for col, op, value in filters or []:
        c = F.col(col)
        if op == "in":
            df = df.filter(c.isin(list(value)))
        elif op == "is_null":
            df = df.filter(c.isNull())
        elif op == "is_not_null":
            df = df.filter(c.isNotNull())
        else:
            df = df.filter(
                {"=": c.__eq__, "<": c.__lt__, "<=": c.__le__, ">": c.__gt__, ">=": c.__ge__}[op](value)
            )
    return df


def candidate_files(table: str, filters: list[tuple] | None = None) -> list[str]:
    """The file names read_skipping would scan — exposed so tests and
    monitoring can assert how selective the layout actually is."""
    with open(_manifest_path(table)) as f:
        man = json.load(f)
    return sorted(
        fn
        for fn, ranges in man["files"].items()
        if all(
            _file_may_match(ranges, c, op, v)
            and _bloom_may_match(man, fn, c, op, v)
            and _null_may_match(man, fn, c, op)
            for c, op, v in (filters or [])
        )
    )


def append_skipping(
    df: DataFrame,
    table: str,
    n_files: int = 4,
    cluster_by: str | None = None,
) -> int:
    """Incremental maintenance of a :func:`write_skipping` table: land an
    ingest batch as NEW data files (existing files untouched — concurrent
    readers keep a consistent set, the parquet-append contract) and extend
    the manifest with the new files' zone maps and, when the table tracks
    them, bloom bitmaps. Stats configuration (stats_cols / bloom m, k) is
    FIXED at create time, so appended files skip exactly like originals;
    per-batch clustering keeps the new files' ranges tight even though
    batches interleave with history (query-time candidates are per-file,
    so old and new files prune independently). CONCURRENT appends are
    safe: the batch lands in a batch-unique STAGING directory first, so
    the appended file names come from the writer's own output — never a
    listing diff of the shared data directory, which races on an object
    store (r10; the r9 version set-diffed ``os.listdir``) — and the
    manifest merge runs inside the shared pointer critical section
    (``versioned._pointer_lock``) against a RE-read manifest, so two
    appenders both land their file entries instead of the later one
    clobbering the earlier one's. Spark part file names embed a
    job-unique UUID, so staged files move into ``data/`` without
    collision; a crash before the manifest merge leaves moved-but-
    unregistered files that readers (manifest-driven) never see. Returns
    the number of files appended."""
    import shutil
    import uuid

    with open(_manifest_path(table)) as f:
        man = json.load(f)
    stats_cols = man["stats_cols"]
    bl = man.get("bloom")
    data = _data_dir(table)
    staged = os.path.join(table, f"_staged_append_{uuid.uuid4().hex}")
    ck = F.col(cluster_by) if isinstance(cluster_by, str) else cluster_by
    shaped = (
        df.repartitionByRange(n_files, ck)
        if cluster_by is not None
        else df.repartition(n_files)
    )
    shaped.write.mode("errorifexists").parquet(staged)
    new_files = {
        f for f in os.listdir(staged) if f.startswith("part-") and not f.endswith(".crc")
    }
    if not new_files:
        shutil.rmtree(staged, ignore_errors=True)
        return 0
    paths = [os.path.join(staged, fn) for fn in sorted(new_files)]
    back = df.sparkSession.read.parquet(*paths)
    fname = F.element_at(F.split(F.input_file_name(), "/"), -1)
    stats = back.groupBy(fname.alias("_f")).agg(*_stats_aggs(stats_cols))
    from semantic_index_spark.session import collect_bounded

    our_stats = {}
    our_nulls = {}
    for r in collect_bounded(stats, len(new_files), "append_skipping file stats"):
        our_stats[r["_f"]] = {c: [r[f"min_{c}"], r[f"max_{c}"]] for c in stats_cols}
        our_nulls[r["_f"]] = _null_entry(r, stats_cols)
    our_blooms: dict[str, dict[str, str]] = {}
    if bl:
        for c in bl["cols"]:
            bits = (
                back.where(F.col(c).isNotNull())
                .select(
                    fname.alias("_f"),
                    F.explode(_positions(c, bl["m"], bl["k"])).alias("bit"),
                )
                .groupBy("_f")
                .agg(F.collect_set("bit").alias("bits"))
            )
            for r in collect_bounded(bits, len(new_files), "append_skipping blooms"):
                bm = bytearray(bl["m"] // 8 + 1)
                for b in r["bits"]:
                    bm[b >> 3] |= 1 << (b & 7)
                our_blooms.setdefault(r["_f"], {})[c] = base64.b64encode(
                    bytes(bm)
                ).decode()
    # publish: move the staged files into data/ (atomic per-file rename,
    # names already unique), then merge onto a RE-read manifest inside the
    # critical section — a concurrent appender's entries landed in between
    # must survive
    from semantic_index_spark.sources.versioned import _pointer_lock

    for fn2 in sorted(new_files):
        dest = os.path.join(data, fn2)
        if os.path.exists(dest):  # cannot happen with UUID part names
            raise FileExistsError(f"append_skipping: file collision on {dest}")
        os.rename(os.path.join(staged, fn2), dest)
    shutil.rmtree(staged, ignore_errors=True)
    with _pointer_lock(table):
        with open(_manifest_path(table)) as f:
            man = json.load(f)
        man["files"].update(our_stats)
        man.setdefault("nulls", {}).update(our_nulls)
        for fn2, cols in our_blooms.items():
            man["bloom"]["files"].setdefault(fn2, {}).update(cols)
        tmp = _manifest_path(table) + ".__tmp__"
        with open(tmp, "w") as f:
            json.dump(man, f)
        os.replace(tmp, _manifest_path(table))
    return len(new_files)
