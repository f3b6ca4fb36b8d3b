"""The versioned store as a BATCH DataSource — the SQL front door.

[absent in reference — north-star extension] Every versioned-store verb
so far is Python-API-only; power users live in SQL. This module exposes
any versioned table (plain snapshot, bucketed, hidden-partitioned)
through the Spark 4 Python DataSource API so it is reachable from pure
SQL DDL/DML text::

    register_versioned_table(spark)
    spark.sql(\"\"\"CREATE TEMPORARY VIEW orders_v3
                USING versioned_table
                OPTIONS (table '/path/tbl', version '3')\"\"\")
    spark.sql("SELECT * FROM orders_v3 WHERE id = 42")

``sql_view`` wraps that DDL; ``version`` / ``as_of_ts`` options are the
``VERSION AS OF`` / ``TIMESTAMP AS OF`` equivalents (the literal Delta
syntax needs a JVM DSv2 catalog, which a Python data source cannot
register — the OPTIONS-pinned view is the same contract: a read bound to
one immutable snapshot).

Read semantics match ``read_bucketed``/``read_version`` exactly
(pytest-asserted): the version is resolved ONCE at data-source
construction (a concurrent commit cannot tear a query across versions),
bucketed tables read each bucket's owning-version files under the
manifest's LOGICAL schema (column-mapping rename aliasing, null-fill for
added columns, arrow upcast for type-widened columns), and deletion
vectors apply executor-side as a per-bucket pyarrow anti-join — keys
hash to exactly one bucket, so each file partition needs only its own
bucket's DV files.

Scale shape: planning lists files driver-side from the manifest (the
same O(buckets) walk ``read_bucketed`` does); each file becomes one
``InputPartition`` read executor-parallel with pyarrow, decoding ONLY
the view schema's physical columns (+ DV keys) — dropped columns' bytes
stay unread. ``pushFilters`` prunes at every level the Python API does
(round 12 completes the set):

- **bucketed tables** — manifest-level bucket pruning for point lookups:
  an ``id = k`` / ``id IN (...)`` predicate on a single integral or
  string bucket key computes the key's bucket with the numpy XXH64 of
  :func:`buckets_np`, which bit-matches Spark's ``xxhash64`` expression
  (seed 42; verified
  value-for-value in pytest — the prune MUST agree with the writer's
  placement or it would silently drop matching rows) and plans only that
  bucket's files — the ~n_buckets-fold point-lookup saving of
  ``read_bucketed(key_values=...)``, now available to plain SQL.
- **hidden-partitioned tables** — pushed predicates translate into the
  triple dialect of ``read_hidden`` and prune partition DIRECTORIES via
  the same transform-rewrite soundness rules (``hidden._pval_matches``:
  inclusive range relaxation, dtype-dispatched identity, bucket =/in
  only). Timestamp literals arrive as UTC instants and convert through
  the table's PINNED zone, so day/month pruning needs no session-zone
  equality (unlike the Python path's naive literals).
- **zone-mapped layouts** — the composed hidden+skipping table's
  per-file [min, max] manifest (``hidden._file_may_hold``) and the
  unversioned ``write_skipping`` layout's zone maps, null counts and
  bloom bitmaps (``skipping.candidate_files``) evaluate driver-side per
  file through the same functions the Python readers call, so a SQL
  range predicate plans only candidate files.

All filters are returned to Spark for re-evaluation: pruning is pure IO
reduction, rows are never trusted to it (pytest asserts SQL-path file
selection equals the Python path's ``candidate_files*`` and results are
pruning-independent).
"""

from __future__ import annotations

import datetime
import os
import re

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    EqualNullSafe,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from semantic_index_spark.sources import versioned as VER

# ---- Spark-exact XXH64 (org.apache.spark XxHash64, seed 42) -------------
_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


# the Python literal type a pushed =/IN filter value must have for the
# driver-side bucket computation to provably agree with Spark's own
# evaluation of the same predicate (bool is an int subclass: excluded)
_KEY_PYTYPES = {"integer": int, "long": int, "string": str}


def _bucket_of(value, dtype: str, n_buckets: int) -> int:
    """The bucket of one pushed-filter literal (the scan-side prune)."""
    return int(buckets_np([value], dtype, n_buckets)[0])


def _xxh64_bytes_np(bufs: "list[bytes]"):
    """Vectorized XXH64 (seed 42) over a batch of VARIABLE-LENGTH byte
    strings — every lane of the algorithm runs as masked numpy passes
    over a zero-padded (n, width) byte matrix, so hashing a batch costs
    a handful of array ops instead of n Python-level hashes. Bit-exact
    with Spark's ``xxhash64`` over ``UTF8String``/``BinaryType`` input
    (pytest-locked value-for-value against ``F.xxhash64`` on a
    length-boundary panel: 0..33, 63..65, multi-stripe, unicode).

    Shape notes: stripes/words/tail are selected per row by integer
    arithmetic on the length vector (stripes = len//32; after them
    rem = len - 32*stripes splits as rem//8 words + an optional 4-byte
    word + rem%4 single bytes — XXH64's 32-byte stripes and 8/4/1-byte
    tail). Rows
    are processed in chunks so the padded matrix stays bounded even if
    one key is pathologically long."""
    import numpy as np

    n = len(bufs)
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out
    P1, P2, P3, P4, P5 = (
        np.uint64(_P1), np.uint64(_P2), np.uint64(_P3),
        np.uint64(_P4), np.uint64(_P5),
    )

    def rotl(x, r):
        return (x << np.uint64(r)) | (x >> np.uint64(64 - r))

    lens_all = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=n)
    # chunk rows so n_chunk * padded-width stays ~16 MB even with long keys
    start = 0
    with np.errstate(over="ignore"):
        while start < n:
            width = 32
            stop = start
            budget = 16 << 20
            while stop < n:
                w = max(32, (int(lens_all[stop]) + 39) // 32 * 32)
                width = max(width, w)
                if (stop - start + 1) * width > budget and stop > start:
                    break
                stop += 1
            m = stop - start
            lens = lens_all[start:stop]
            # pad 8 extra zero bytes past each max-width so 8/4-byte word
            # gathers at the tail never index out of bounds
            mat = np.zeros((m, width + 8), dtype=np.uint8)
            concat = np.frombuffer(
                b"".join(bufs[start:stop]), dtype=np.uint8
            )
            if concat.size:
                row_idx = np.repeat(np.arange(m), lens)
                offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
                col_idx = np.arange(concat.size) - np.repeat(offs, lens)
                mat[row_idx, col_idx] = concat
            words = mat.view("<u8")  # (m, (width+8)/8) little-endian lanes
            ulen = lens.astype(np.uint64)
            stripes = (lens // 32).astype(np.int64)
            h = np.full(m, np.uint64((42 + _P5) & _M64), dtype=np.uint64)
            smask = stripes > 0
            if smask.any():
                v1 = np.full(m, np.uint64((42 + _P1 + _P2) & _M64))
                v2 = np.full(m, np.uint64((42 + _P2) & _M64))
                v3 = np.full(m, np.uint64(42))
                v4 = np.full(m, np.uint64((42 - _P1) & _M64))
                for t in range(int(stripes.max())):
                    mm = stripes > t
                    for j, lane in enumerate((v1, v2, v3, v4)):
                        k = words[:, 4 * t + j]
                        upd = rotl(lane + k * P2, 31) * P1
                        np.copyto(lane, upd, where=mm)
                hs = rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)
                for lane in (v1, v2, v3, v4):
                    hs = (hs ^ (rotl(lane * P2, 31) * P1)) * P1 + P4
                np.copyto(h, hs, where=smask)
            h = h + ulen
            base = stripes * 32
            rem = lens - base
            nw = rem // 8
            rows = np.arange(m)
            for j in range(4):  # rem <= 31 → at most 3 words, 4th never fires
                mm = nw > j
                if not mm.any():
                    continue
                k = words[rows, stripes * 4 + j]
                upd = rotl(h ^ (rotl(k * P2, 31) * P1), 27) * P1 + P4
                np.copyto(h, upd, where=mm)
            pos = base + nw * 8
            m4 = (rem - nw * 8) >= 4
            if m4.any():
                dwords = mat.view("<u4")
                # pos is 8-aligned only per-row; gather the 4-byte word by
                # its two possible dword slots (pos % 4 == 0 always here)
                k4 = dwords[rows, pos // 4].astype(np.uint64)
                upd = rotl(h ^ (k4 * P1), 23) * P2 + P3
                np.copyto(h, upd, where=m4)
                pos = pos + m4 * 4
            nb = rem % 4
            for j in range(3):
                mm = nb > j
                if not mm.any():
                    continue
                b = mat[rows, pos + j].astype(np.uint64)
                upd = rotl(h ^ (b * P5), 11) * P1
                np.copyto(h, upd, where=mm)
            h ^= h >> np.uint64(33)
            h *= P2
            h ^= h >> np.uint64(29)
            h *= P3
            h ^= h >> np.uint64(32)
            out[start:stop] = h
            start = stop
    return out


def xxhash64_np(values, dtype: str):
    """Spark ``xxhash64`` (seed 42, signed int64) of a whole key array
    with numpy uint64 wraparound arithmetic. ``integer`` keys hash
    through XXH64's 4-byte path, which is why the store refuses to widen
    key columns; ``string`` keys hash their UTF-8 bytes through the
    masked-numpy :func:`_xxh64_bytes_np` (round 13's string lane).
    Bit-exact with ``F.xxhash64`` (pytest-locked on sign/width and
    string-length boundary panels)."""
    import numpy as np

    if dtype == "string":
        return _xxh64_bytes_np([s.encode("utf-8") for s in values]).view(np.int64)
    v = np.asarray(values, dtype=np.int64).view(np.uint64)
    with np.errstate(over="ignore"):
        P1, P2, P3 = np.uint64(_P1), np.uint64(_P2), np.uint64(_P3)
        if dtype == "long":
            h = np.uint64((42 + _P5 + 8) & _M64)
            k = v * P2
            k = (k << np.uint64(31)) | (k >> np.uint64(33))
            h = h ^ (k * P1)
            h = ((h << np.uint64(27)) | (h >> np.uint64(37))) * P1 + np.uint64(_P4)
        elif dtype == "integer":
            h = np.uint64((42 + _P5 + 4) & _M64)
            h = h ^ ((v & np.uint64(0xFFFFFFFF)) * P1)
            h = ((h << np.uint64(23)) | (h >> np.uint64(41))) * P2 + P3
        else:
            raise ValueError(f"unhashable bucket key dtype {dtype!r}")
        h ^= h >> np.uint64(33)
        h *= P2
        h ^= h >> np.uint64(29)
        h *= P3
        h ^= h >> np.uint64(32)
    return h.view(np.int64)


def murmur3_long_np(values):
    """Spark ``hash()`` (``Murmur3_x86_32.hashLong``, seed 42, signed
    int32) of a whole long array with numpy uint32 wraparound arithmetic
    — the hash ``repartition(n, col)`` takes ``pmod`` of to place a long
    key. Bit-exact with ``F.hash`` (pytest-locked on edge longs)."""
    import numpy as np

    v = np.asarray(values, dtype=np.int64).view(np.uint64)
    c1, c2 = np.uint32(0xCC9E2D51), np.uint32(0x1B873593)

    def rotl(x, r):
        return (x << np.uint32(r)) | (x >> np.uint32(32 - r))

    def mix(h, k):
        k = rotl(k * c1, 15) * c2
        return rotl(h ^ k, 13) * np.uint32(5) + np.uint32(0xE6546B64)

    with np.errstate(over="ignore"):
        h = np.full(v.shape, 42, dtype=np.uint32)
        h = mix(h, (v & np.uint64(0xFFFFFFFF)).astype(np.uint32))
        h = mix(h, (v >> np.uint64(32)).astype(np.uint32))
        h ^= np.uint32(8)
        h ^= h >> np.uint32(16)
        h *= np.uint32(0x85EBCA6B)
        h ^= h >> np.uint32(13)
        h *= np.uint32(0xC2B2AE35)
        h ^= h >> np.uint32(16)
    return h.view(np.int32)


def buckets_np(values, dtype: str, n_buckets: int):
    """Vectorized bucket assignment ``pmod(xxhash64(v), n_buckets)``:
    what lets the SQL writer's executor tasks route a batch to buckets in
    O(n) numpy instead of a per-row Python loop, and what the pushed-filter
    prune (:func:`_bucket_of`) evaluates per literal."""
    return (xxhash64_np(values, dtype) % n_buckets + n_buckets) % n_buckets


# ---- SQL filter → (col, op, value) triples --------------------------------
# The driver-side pruning verbs (hidden._pval_matches, skipping's
# _file_may_match / _null_may_match / _bloom_may_match) all speak the
# triple dialect of read_hidden/read_skipping; translating the pushed
# Spark filters into it is what lets the SQL path reuse their logic
# verbatim instead of reimplementing the soundness rules.

_BIN_OPS = {
    EqualTo: "=",
    EqualNullSafe: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}


def _norm_value(value, pinned_tz: "str | None"):
    """Normalize one pushed literal for driver-side pruning, or raise
    ``ValueError`` when no provably-sound normalization exists (the caller
    drops the triple — the file is kept and Spark's residual filters it).

    Timestamp literals arrive from SQL as tz-AWARE UTC datetimes (the
    Variant channel normalizes the session-zone literal to an instant);
    the writer rendered partition values and zone-map bounds in the
    table's PINNED zone, so the instant converts exactly — no session-tz
    equality requirement, unlike read_hidden's python literals. Booleans
    never normalize (Python ``str(True)`` vs Spark ``'true'``)."""
    if value is None or isinstance(value, bool):
        raise ValueError("no sound driver-side rendering")
    if isinstance(value, datetime.datetime) and value.tzinfo is not None:
        if pinned_tz is None:
            raise ValueError("tz-aware literal on a table with no pinned zone")
        import zoneinfo

        return value.astimezone(zoneinfo.ZoneInfo(pinned_tz)).replace(tzinfo=None)
    return value


def _to_triples(filters, pinned_tz: "str | None") -> list[tuple]:
    """Translate pushed Spark filters into pruning triples. Unsupported
    shapes (nested columns, Not, string-match filters, unnormalizable
    literals) are simply skipped — pruning is IO-only, every filter goes
    back to Spark regardless."""
    out = []
    for f in filters:
        attr = getattr(f, "attribute", None)
        if attr is None or len(attr) != 1:
            continue
        col = attr[0]
        if isinstance(f, IsNull):
            out.append((col, "is_null", None))
        elif isinstance(f, IsNotNull):
            out.append((col, "is_not_null", None))
        elif isinstance(f, In):
            try:
                out.append((col, "in", [_norm_value(v, pinned_tz) for v in f.value]))
            except ValueError:
                pass
        elif type(f) in _BIN_OPS:
            try:
                out.append((col, _BIN_OPS[type(f)], _norm_value(f.value, pinned_tz)))
            except ValueError:
                pass
    return out


# ---- the data source -----------------------------------------------------


class _Part(InputPartition):
    def __init__(self, path: str, dv_paths: "tuple[str, ...]" = ()):
        self.path = path
        self.dv_paths = dv_paths


class VersionedTableReader(DataSourceReader):
    def __init__(self, schema: StructType, table: str, version: "int | None"):
        self.schema = schema
        self.table = table
        self.version = version
        self.man = VER._manifest_or_none(table, version) if version is not None else None
        self.hidden = None  # the hidden-partition spec, when present
        if self.man is None and os.path.exists(VER._hidden_spec_path(table)):
            from semantic_index_spark.sources.hidden import _read_meta

            self.hidden = _read_meta(table)
        self._wanted: "set[int] | None" = None  # bucket prune from filters
        self._triples: list[tuple] = []  # hidden/zone-map prune from filters

    def pushFilters(self, filters):
        # hidden-partition / zone-map layouts (round 12): translate the
        # pushed filters into the triple dialect the existing driver-side
        # pruning logic speaks; partitions() evaluates it per file
        if self.man is None:
            tz = (self.hidden or {}).get("time_zone")
            self._triples = _to_triples(filters, tz)
        man = self.man
        if man is not None and len(man["key_cols"]) == 1:
            key = man["key_cols"][0]
            dtype = VER._manifest_fields(man).get(key, {}).get("type")
            if dtype in _KEY_PYTYPES:
                n = int(man["n_buckets"])
                pytype = _KEY_PYTYPES[dtype]
                for f in filters:
                    vals = None
                    if (
                        isinstance(f, (EqualTo, EqualNullSafe))
                        and tuple(f.attribute) == (key,)
                        and isinstance(f.value, pytype)
                        and not isinstance(f.value, bool)
                    ):
                        vals = [f.value]
                    elif isinstance(f, In) and tuple(f.attribute) == (key,):
                        if all(
                            isinstance(v, pytype) and not isinstance(v, bool)
                            for v in f.value
                        ):
                            vals = list(f.value)
                    if vals is not None:
                        buckets = {_bucket_of(v, dtype, n) for v in vals}
                        self._wanted = (
                            buckets
                            if self._wanted is None
                            else self._wanted & buckets
                        )
        # every filter goes back to Spark: pruning is IO-only, correctness
        # never depends on it (rows are re-filtered post-scan)
        return filters

    def _snapshot_files(self) -> list[str]:
        """Data files of a manifest-less layout the pushed filters leave to
        scan — chosen by the same functions the Python readers call."""
        from semantic_index_spark.sources import skipping

        if self.version is None:
            # unversioned skipping layout: zone maps, null counts, blooms
            data = skipping._data_dir(self.table)
            return [
                os.path.join(data, fn)
                for fn in skipping.candidate_files(self.table, self._triples)
            ]
        # plain / hidden snapshot: every file of the version, minus what the
        # hidden-partition transforms and (composed layout) zone maps rule out
        vdir = VER._version_dir(self.table, self.version)
        files = VER._data_files(vdir)
        if self.hidden is None or not self._triples:
            return files
        from semantic_index_spark.sources.hidden import _file_may_hold, _zone_maps

        zmap = _zone_maps(self.table, self.version) or {}
        by_col = {e["col"]: e for e in self.hidden["spec"]}
        rels = [os.path.relpath(p, vdir) for p in files]
        return [
            p
            for p, rel in zip(files, rels)
            if _file_may_hold(by_col, rel, zmap.get(rel), self._triples)
        ]

    def partitions(self):
        man = self.man
        if man is None:
            parts = [_Part(p) for p in self._snapshot_files()]
        else:
            parts = [
                _Part(p, tuple(VER._dv_paths(self.table, man, {b})))
                for b, bdir in VER._live_bucket_dirs(self.table, man, self._wanted).items()
                for p in VER._data_files(bdir)
            ]
        # Spark requires a non-empty partition list
        return parts or [_Part("")]

    def read(self, partition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_type

        if not partition.path:
            return iter(())
        man = self.man
        colmap = (man.get("colmap") or {}) if man else {}
        # column-pruned read (round 12): decode only the view schema's
        # PHYSICAL columns (+ the key columns the DV anti-join needs),
        # intersected with what the file actually holds (pre-evolution
        # files lack added columns; the null-fill below covers them).
        # Retired (dropped) columns' bytes are never decoded — DROP
        # COLUMN stays zero-IO on the SQL path too.
        wanted = {colmap.get(f.name, f.name) for f in self.schema.fields}
        if man:
            wanted.update(colmap.get(k, k) for k in man["key_cols"])
        avail = [c for c in pq.read_schema(partition.path).names if c in wanted]
        tbl = pq.read_table(partition.path, columns=avail)
        if partition.dv_paths:
            # per-bucket DV anti-join, executor-side: keys hash to exactly
            # one bucket, so this file's bucket's DV files are sufficient
            phys_keys = [colmap.get(k, k) for k in man["key_cols"]]
            dv = pa.concat_tables(
                [pq.read_table(p, columns=phys_keys) for p in partition.dv_paths]
            )
            tbl = tbl.join(dv, keys=phys_keys, join_type="left anti")
        return iter(_project_logical(tbl, colmap, self.schema.fields).to_batches())


def _project_logical(tbl, colmap: dict, fields):
    """Project an arrow table onto the LOGICAL schema: column-mapping
    rename aliasing, null-fill for added columns the file predates, and
    arrow upcast for type-widened columns (narrow int32/float32 files
    read under the widened schema). Shared by the reader and the SQL
    writer's merge (which must normalize both the incoming rows and the
    rewritten bucket's survivors the same way)."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_type

    cols, names = [], []
    n = tbl.num_rows
    for f in fields:
        t = to_arrow_type(f.dataType)
        phys = colmap.get(f.name, f.name)
        if phys in tbl.column_names:
            col = tbl.column(phys)
            cols.append(col if col.type == t else col.cast(t))
        else:
            cols.append(pa.nulls(n, type=t))
        names.append(f.name)
    return pa.Table.from_arrays(cols, names=names)


# ---- the SQL writer --------------------------------------------------------
# ``INSERT INTO <view>`` on a versioned_table binding (round 12, VERDICT
# r11 #3). The Python DataSource write protocol runs ``write()`` on
# executors and ``commit()`` in a driver-side Python worker that has NO
# SparkSession — so the merge is pure pyarrow, and it publishes through
# ``versioned._commit_staged_bucketed``: the EXACT manifest edit + OCC
# rebase + pointer-swap path every Spark-side verb uses (factored out for
# this writer), never a reimplementation that could drift.
#
# Semantics: bucketed table → UPSERT on the key (insert-as-merge; the
# affected buckets rewrite with deletion vectors folded, exactly like
# merge_into_bucketed). Plain snapshot table → append (hardlink the prior
# version + the new files, conditional pointer swap). Boundaries are
# REFUSED loudly, never silently mishandled: hidden/skipping layouts,
# tables with CHECK constraints or generated columns (their SQL
# expressions need Spark to evaluate), multi-column or
# non-hashable-dtype keys (int, long and string — round 13 — are the
# hashable lanes), and schema evolution (INSERT sources must match the
# view schema) all point the user at the Python API verb that handles
# them. Co-committed indexes are MAINTAINED, not refused (round 13):
# the commit worker rebuilds each index's affected shards Spark-free
# through ``indexed_np`` — the same shard encoder a Spark-side merge's
# grouped pass runs, so both verbs write identical shard files.
#
# Driver-side cost note: commit() merges affected buckets (and now
# rebuilds their shards) single-threaded in one Python worker — the
# right trade for the SQL door's intended shape (modest upsert batches
# touching few buckets). A wide upsert touching most buckets of a large
# table serializes that work through one process: use
# ``merge_into_bucketed`` for those (the Spark verb parallelizes both
# the merge and the shard rebuilds).
#
# Scale shape: each executor task buckets its own rows with the
# vectorized ``buckets_np`` (O(n) numpy, bit-exact with the writer-side
# xxhash64) and writes per-bucket incoming files; the commit worker then
# does O(affected buckets) pyarrow merge work — never a full-table pass.
#
# Version semantics (pytest-locked): a view's READS are pinned to the
# version resolved when the view relation is first planned — snapshot
# isolation; rebind (``sql_view`` is CREATE OR REPLACE) to see later
# commits. WRITES construct a fresh DataSource in Spark's write worker,
# so an un-pinned view's INSERT always targets the true latest (chained
# inserts just work), while a version-pinned view's INSERT is a stale
# snapshot and raises ``CommitConflictError``.


class _WriteMsg(WriterCommitMessage):
    def __init__(self, files: tuple):
        self.files = files


class BucketedMergeWriter(DataSourceArrowWriter):
    """INSERT-as-MERGE for bucketed versioned tables (upsert on the key).
    Reference parity: this is the SQL-facing twin of
    ``merge_into_bucketed`` under DuplicateHandling.Update semantics
    (reference ``SemanticDatabase.cs:157-191``)."""

    def __init__(self, table: str, man: dict, staged: str):
        self.table = table
        self.man = man
        self.staged = staged
        self.key = man["key_cols"][0]
        self.key_dtype = VER._manifest_fields(man)[self.key]["type"]
        self.n_buckets = int(man["n_buckets"])

    def write(self, iterator):
        import uuid

        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = [b for b in iterator]
        if not batches:
            return _WriteMsg(())
        tbl = pa.Table.from_batches(batches)
        if tbl.num_rows == 0:
            return _WriteMsg(())
        kc = tbl.column(self.key)
        if kc.null_count:
            raise ValueError(f"INSERT row has NULL key {self.key!r}")
        if self.key_dtype == "string":
            keys = kc.to_pylist()
        else:
            keys = kc.to_numpy(zero_copy_only=False).astype("int64")
        bk = buckets_np(keys, self.key_dtype, self.n_buckets)
        files = []
        for b in np.unique(bk):
            sub = tbl.filter(pa.array(bk == b))
            rel = os.path.join(
                "__incoming", f"b={int(b)}", f"part-{uuid.uuid4().hex}.parquet"
            )
            os.makedirs(os.path.dirname(os.path.join(self.staged, rel)), exist_ok=True)
            pq.write_table(sub, os.path.join(self.staged, rel))
            files.append(rel)
        return _WriteMsg(tuple(files))

    def commit(self, messages):
        import shutil

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from semantic_index_spark.sources.indexed_np import _write_parquet

        man = self.man
        by_bucket: dict[int, list[str]] = {}
        for m in messages:
            for rel in getattr(m, "files", ()) or ():
                b = int(rel.split("b=", 1)[1].split(os.sep, 1)[0])
                by_bucket.setdefault(b, []).append(os.path.join(self.staged, rel))
        if not by_bucket:  # empty INSERT: no version bump
            shutil.rmtree(self.staged, ignore_errors=True)
            return
        fields = VER._manifest_schema(man).fields
        colmap = VER._colmap(man)
        phys_key = colmap.get(self.key, self.key)
        affected = sorted(by_bucket)
        live = VER._live_bucket_dirs(self.table, man, set(affected))
        logical_by_bucket: dict[int, "pa.Table"] = {}
        for b in affected:
            inc = pa.concat_tables(
                _project_logical(pq.read_table(p), {}, fields) for p in by_bucket[b]
            )
            inc_keys = pc.unique(inc.column(self.key))
            if len(inc_keys) != inc.num_rows:
                shutil.rmtree(self.staged, ignore_errors=True)
                raise ValueError(
                    "INSERT source has multiple rows for the same key; "
                    "upsert requires unique source keys"
                )
            parts = []
            bdir = live.get(b)
            if bdir is not None:
                cur = pa.concat_tables(
                    _project_logical(pq.read_table(p), colmap, fields)
                    for p in VER._data_files(bdir)
                )
                # outstanding DVs fold into the rewrite (then clear), the
                # merge contract — DV files store PHYSICAL key names
                for dvdir in VER._dv_paths(self.table, man, {b}):
                    dead = pa.concat_tables(
                        pq.read_table(p, columns=[phys_key])
                        for p in VER._data_files(dvdir)
                    )
                    cur = cur.filter(
                        pc.invert(
                            pc.is_in(
                                cur.column(self.key),
                                value_set=dead.column(phys_key).cast(
                                    cur.column(self.key).type
                                ).combine_chunks(),
                            )
                        )
                    )
                kept = cur.filter(
                    pc.invert(pc.is_in(cur.column(self.key), value_set=inc_keys))
                )
                parts.append(kept)
            parts.append(inc)
            logical = pa.concat_tables(parts)
            logical_by_bucket[b] = logical
            _write_parquet(
                logical.rename_columns([colmap.get(f.name, f.name) for f in fields]),
                VER._bucket_dir(self.staged, b),
            )
        shutil.rmtree(os.path.join(self.staged, "__incoming"), ignore_errors=True)
        # co-committed indexes (round 13): rebuild every index's affected
        # shards from the SAME merged bucket content, Spark-free, through
        # the one shard encoder the Spark verbs' grouped pass runs
        # (indexed_np). Shards land in the one staged commit; the shared
        # finalizer advances each index's shard map (disjoint-bucket
        # rebases keep both writers' shards).
        idxs = VER._indexes(man)
        finalize = None
        if idxs:
            from semantic_index_spark.sources.indexed import (
                _idx_dir,
                _shard_finalizer,
            )
            from semantic_index_spark.sources.indexed_np import (
                write_bucket_shards,
            )

            plan = {_idx_dir(n, s["params"]): s["params"] for n, s in idxs.items()}
            for b in affected:
                write_bucket_shards(
                    self.staged, plan, b, logical_by_bucket[b], self.key
                )
            finalize = _shard_finalizer(idxs, affected)

        VER._commit_staged_bucketed(
            self.table, self.staged,
            {"schema": man["schema"], "meta": {}, "__affected": affected},
            man, dv_clear=affected, finalize_manifest=finalize,
        )

    def abort(self, messages):
        import shutil

        shutil.rmtree(self.staged, ignore_errors=True)


class PlainAppendWriter(DataSourceArrowWriter):
    """INSERT INTO a plain snapshot table: append-only — the new version
    hardlinks the prior version's files (O(files) metadata, zero bytes
    copied) plus the inserted rows, published under the same conditional
    pointer swap as ``commit_version``."""

    def __init__(self, table: str, version: int, staged: str):
        self.table = table
        self.version = version
        self.staged = staged

    def write(self, iterator):
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = [b for b in iterator]
        if not batches:
            return _WriteMsg(())
        tbl = pa.Table.from_batches(batches)
        if tbl.num_rows == 0:
            return _WriteMsg(())
        name = f"part-{uuid.uuid4().hex}.parquet"
        pq.write_table(tbl, os.path.join(self.staged, name))
        return _WriteMsg((name,))

    def commit(self, messages):
        import shutil

        names = [n for m in messages for n in (getattr(m, "files", ()) or ())]
        if not names:  # empty INSERT: no version bump
            shutil.rmtree(self.staged, ignore_errors=True)
            return
        # the new version = the prior version's files (hardlinked) plus the
        # inserted ones that a committed task reported (a failed attempt's
        # file is dropped), published under the shared conditional swap
        for orphan in set(os.listdir(self.staged)) - set(names):
            os.remove(os.path.join(self.staged, orphan))
        VER._link_tree(VER._version_dir(self.table, self.version), self.staged)
        VER._publish_staged(self.table, self.staged, self.version)

    def abort(self, messages):
        import shutil

        shutil.rmtree(self.staged, ignore_errors=True)


class VersionedTableDataSource(DataSource):
    """``spark.read.format("versioned_table")`` / ``CREATE TEMPORARY VIEW
    ... USING versioned_table`` — see module docs. Options: ``table``
    (path, required), ``version`` (int) or ``as_of_ts`` (epoch seconds or
    ISO-8601), default committed latest."""

    def __init__(self, options):
        super().__init__(options)
        self.table = options["table"]
        # resolve ONCE: schema() and reader() must describe the same
        # snapshot even if a concurrent commit advances the pointer
        # between planning steps
        from semantic_index_spark.sources import skipping

        pinned = options.get("version"), options.get("as_of_ts")
        if VER.current_version(self.table) is None and (
            os.path.exists(skipping._manifest_path(self.table))
        ):
            # write_skipping layout: unversioned (<table>/data + root
            # manifest) — version pins don't apply, reads are zone-map,
            # null-count and bloom pruned (round 12)
            if any(p is not None for p in pinned):
                raise ValueError(
                    "skipping tables are unversioned: no version/as_of_ts"
                )
            self.version = None
        elif options.get("as_of_ts") is not None:
            if options.get("version") is not None:
                raise ValueError("pass version OR as_of_ts, not both")
            self.version = VER.resolve_as_of(self.table, options["as_of_ts"])
        elif options.get("version") is not None:
            self.version = int(options["version"])
        else:
            self.version = VER._resolve_version(self.table)

    @classmethod
    def name(cls) -> str:
        return "versioned_table"

    def schema(self) -> StructType:
        if self.version is None:
            from semantic_index_spark.sources.skipping import _data_dir

            return VER._files_schema(_data_dir(self.table))
        return VER._snapshot_schema(self.table, self.version)

    def reader(self, schema: StructType) -> VersionedTableReader:
        return VersionedTableReader(schema, self.table, self.version)

    def writer(self, schema: StructType, overwrite: bool):
        """``INSERT INTO`` support (round 12) — see the writer section
        comment for semantics and refused boundaries."""
        if overwrite:
            raise ValueError(
                "INSERT OVERWRITE is not supported on versioned tables — "
                "use merge_into_bucketed/commit_version for rewrites"
            )
        if self.version is None:
            raise ValueError(
                "skipping tables are read-only through SQL — use "
                "append_skipping"
            )
        man = VER._manifest_or_none(self.table, self.version)
        if man is None:
            if os.path.exists(VER._hidden_spec_path(self.table)):
                raise ValueError(
                    "hidden-partitioned tables are read-only through SQL — "
                    "use commit_hidden (deriving partition transforms needs "
                    "Spark and the table's pinned time zone)"
                )
            staged = VER._staged_path(self.table)
            os.makedirs(staged)
            return PlainAppendWriter(self.table, self.version, staged)
        # co-committed indexes no longer block (round 13): the commit
        # worker rebuilds the affected shards Spark-free via indexed_np,
        # the one shard encoder every verb uses
        for blocker, present, verb in (
            ("constraints", man.get("constraints"),
             "merge_into_bucketed (CHECK constraints are SQL expressions "
             "only Spark can evaluate)"),
            ("generated", man.get("generated"),
             "merge_into_bucketed (generated columns need Spark)"),
        ):
            if present:
                raise ValueError(
                    f"INSERT INTO refuses tables with {blocker} — use {verb}"
                )
        keys = man["key_cols"]
        fields = VER._manifest_fields(man)
        if len(keys) != 1 or fields[keys[0]].get("type") not in _KEY_PYTYPES:
            raise ValueError(
                "INSERT INTO supports single integral- or string-key "
                f"bucketed tables (got keys {keys}) — use merge_into_bucketed"
            )
        logical = list(fields)
        if [f.name for f in schema.fields] != logical:
            raise ValueError(
                f"INSERT schema {[f.name for f in schema.fields]} must match "
                f"the table schema {logical} exactly — schema evolution goes "
                "through merge_into_bucketed(schema_evolution=True)"
            )
        staged = VER._staged_path(self.table)
        os.makedirs(staged)
        return BucketedMergeWriter(self.table, man, staged)


def register_versioned_table(spark) -> None:
    """Idempotently register the source with the session. Also enables
    ``spark.sql.python.filterPushdown.enabled`` (runtime-settable, off by
    default in Spark 4.1) — without it Spark refuses any Python reader
    that implements ``pushFilters``, and bucket pruning is the point."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(VersionedTableDataSource)


def sql_view(
    spark, view_name: str, table: str, version=None, as_of_ts=None
) -> None:
    """The SQL front door in one call: bind ``view_name`` to a versioned
    table snapshot via ``CREATE OR REPLACE TEMPORARY VIEW ... USING
    versioned_table`` — after this, the table is pure-SQL territory
    (point lookups get manifest-level bucket pruning via pushFilters).
    ``version``/``as_of_ts`` pin a snapshot (``VERSION AS OF`` /
    ``TIMESTAMP AS OF`` equivalents); default = latest at bind time.

    **Join-statistics caveat (round 13, plan-audited):** Spark's Python
    DataSource API exposes no statistics hook, so a versioned view
    reports ``sizeInBytes = Long.MaxValue`` (unknown) and the static
    planner will NEVER auto-broadcast it — the safe default at 100 TB
    (an unknown-size view can't OOM a broadcast), but it means a small
    versioned dim joined to a big fact sort-merges where a broadcast
    fits. When you KNOW the view is small, say so with a hint::

        SELECT /*+ BROADCAST(d) */ f.fk, sum(f.meas)
        FROM fact f JOIN dim_view d ON f.fk = d.id
        GROUP BY f.fk

    (pytest-locked: the unhinted plan is a SortMergeJoin, the hinted
    plan a BroadcastHashJoin — ``test_r13_sql_view_broadcast_hint``.
    AQE can also upgrade the join at runtime once the true size is
    known; the hint guarantees it at planning time.)

    **Row-level SQL text (UPDATE/DELETE/MERGE) is out of scope by
    decision of record** — see ARCHITECTURE.md "What we deliberately did
    NOT do": Spark's Python DataSource has no row-level hooks, so those
    remain the Python verbs ``merge_into_bucketed`` /
    ``delete_bucketed`` / ``optimize_bucketed``; ``INSERT INTO`` covers
    the upsert case."""
    register_versioned_table(spark)
    # option VALUES are interpolated into DDL text: a single quote in the
    # path or timestamp would break the statement or inject SQL (round 12)
    for label, val in (("table path", table), ("as_of_ts", as_of_ts)):
        if val is not None and "'" in str(val):
            raise ValueError(f"{label} {val!r} must not contain single quotes")
    opts = [f"table '{table}'"]
    if version is not None:
        opts.append(f"version '{int(version)}'")
    if as_of_ts is not None:
        opts.append(f"as_of_ts '{as_of_ts}'")
    # a real identifier: the old isalnum() check let a leading digit through
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", view_name):
        raise ValueError(f"invalid view name {view_name!r}")
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW {view_name} "
        f"USING versioned_table OPTIONS ({', '.join(opts)})"
    )
