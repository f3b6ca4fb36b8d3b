"""The versioned store as a Structured Streaming SOURCE.

[absent in reference — north-star extension] Delta's table-as-stream-source
contract, re-expressed over this repo's versioned layout with the Spark 4
Python ``DataSourceStreamReader`` API: **offsets are commit versions**.
Each micro-batch covers a half-open version range ``[start, end)``; the
driver only LISTS the data files those commits added (one
``InputPartition`` per file — executor-parallel reads, nothing ever
materializes on the driver), executors read their file with pyarrow and
tag rows with ``_version``. Because committed version directories are
immutable, a replayed offset range re-reads byte-identical input —
exactly-once for free, the same property that makes Delta's version
offsets safe.

What a commit CONTRIBUTES:
  * plain / hidden-partitioned snapshot tables: every data file under
    ``v=<n>`` (each commit is a full snapshot — downstream dedups or
    merges in ``foreachBatch``);
  * bucketed tables: only the bucket directories version ``n`` OWNS per
    its manifest — i.e. exactly the files the commit ADDED, so an
    incremental merge streams only its rewritten buckets (file-
    granularity change feed, the Delta-source semantics); a DV-only
    commit adds no files and streams nothing (Delta ``ignoreDeletes`` —
    row-level deletes don't stream; use ``diff_bucketed`` for a true CDF).

Retention interplay: a version expired BEFORE the stream consumed it
fails the read (same failure Delta gives when VACUUM outruns a slow
consumer) — size retention to consumer lag.

Usage::

    register_versioned_feed(spark)
    (spark.readStream.format("versioned_feed")
        .option("table", "/path/to/table")
        .load()
        .writeStream.trigger(availableNow=True)...)
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import LongType, StructField, StructType

from semantic_index_spark.sources import versioned as VER

_VERSION_COL = "_version"


def _commit_files(table: str, version: int) -> list[str]:
    """The data files commit ``version`` ADDED (see module docstring)."""
    man = VER._manifest_or_none(table, version)
    if man is not None:
        owned = {int(b) for b, owner in man["buckets"].items() if owner == version}
        return [
            f
            for bdir in VER._live_bucket_dirs(table, man, owned).values()
            for f in VER._data_files(bdir)
        ]
    vdir = VER._version_dir(table, version)
    if not os.path.isdir(vdir):
        raise FileNotFoundError(
            f"version {version} of {table} is gone (expired before the "
            "stream consumed it) — increase retention or restart from a "
            "newer starting_version"
        )
    return VER._data_files(vdir)


class _FilePartition(InputPartition):
    def __init__(self, path: str, version: int):
        self.path = path
        self.version = version


class VersionedFeedStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self.table = options["table"]
        self.start_version = int(options.get("starting_version", 0))
        # Delta maxFilesPerTrigger analog at version granularity: cap how
        # many commits one micro-batch admits so a consumer far behind a
        # busy table catches up in bounded batches instead of one giant
        # one. The Python stream-reader API only reveals the checkpoint
        # position when the first batch is planned, so the FIRST batch
        # after a (re)start admits everything outstanding; every
        # subsequent batch is capped.
        self.max_versions = int(options.get("max_versions_per_batch", 0))  # 0 = all
        # cap anchor: the last COMPLETED batch's end version (set by
        # commit(); partitions() only seeds it with the checkpoint start)
        self._progress: "int | None" = None
        self.schema = schema
        # column mapping: files store PHYSICAL names (frozen at column
        # birth, stable across renames), the declared schema is logical —
        # snapshot the mapping at stream start (schema is fixed per run,
        # same restart-on-rename contract as Delta sources)
        cur = VER.current_version(self.table)
        man = None if cur is None else VER._manifest_or_none(self.table, cur)
        self.colmap: dict = {} if man is None else VER._colmap(man)

    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        cur = VER.current_version(self.table)
        if cur is None:
            return {"version": self.start_version}
        end = max(cur + 1, self.start_version)
        if self.max_versions and self._progress is not None:
            end = max(min(end, self._progress + self.max_versions), self._progress)
        return {"version": end}

    def partitions(self, start: dict, end: dict):
        # learn the checkpoint position on the first planned batch (the
        # Python API reveals it nowhere else); the cap anchor itself
        # advances only in commit(), so a FAILED batch re-plans the same
        # capped window instead of sliding past it
        if self._progress is None:
            self._progress = int(start["version"])
        parts = [
            _FilePartition(path, v)
            for v in range(int(start["version"]), int(end["version"]))
            for path in _commit_files(self.table, v)
        ]
        # Spark requires a non-empty partition list; a files-less range
        # (DV-only commits) contributes one empty marker partition
        return parts or [_FilePartition("", int(start["version"]))]

    def read(self, partition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from semantic_index_spark.sources.versioned_batch import _project_logical

        if not partition.path:
            return iter(())
        # renamed columns read by physical name; schema-evolved bucketed
        # layouts' untouched old files null-fill added columns, as in
        # read_bucketed
        data_fields = [f for f in self.schema.fields if f.name != _VERSION_COL]
        tbl = _project_logical(pq.read_table(partition.path), self.colmap, data_fields)
        version = pa.array([partition.version] * tbl.num_rows, type=pa.int64())
        return iter(tbl.append_column(_VERSION_COL, version).to_batches())

    def commit(self, end: dict) -> None:
        # offsets are durable in the checkpoint; the rate-limit anchor
        # advances HERE and only here, so the cap window is anchored to
        # COMPLETED batches — planning a batch that later fails never
        # moves it
        self._progress = max(self._progress or 0, int(end["version"]))


class VersionedFeedDataSource(DataSource):
    """``spark.readStream.format("versioned_feed")`` — see module docs."""

    @classmethod
    def name(cls) -> str:
        return "versioned_feed"

    def schema(self) -> StructType:
        table = self.options["table"]
        base = VER._snapshot_schema(table, VER._resolve_version(table))
        return StructType(base.fields + [StructField(_VERSION_COL, LongType())])

    def streamReader(self, schema: StructType):
        return VersionedFeedStreamReader(schema, dict(self.options))


def register_versioned_feed(spark) -> None:
    """Idempotently register the source with the session."""
    spark.dataSource.register(VersionedFeedDataSource)
