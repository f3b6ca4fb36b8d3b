"""Sources & sinks.

The reference persists exactly one way: the whole store to/from a single
JSON file (`SemanticDatabase.cs:484-526`, "single-file" per README.md:2).
Our primary store is partitioned Parquet (columnar, splittable, predicate/
projection pushdown); JSON stays as a reference-compat import/export, and
CSV/JSONL readers round out the ingest surface for text corpora.

Snapshot convention (replaces the reference's ReaderWriterLockSlim,
`SemanticDatabase.cs:19`): writers write to ``<path>.__tmp__`` then rename —
readers referencing the old directory keep a consistent view. On cloud
object stores this maps to versioned prefixes / table-format commits.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from semantic_index_spark.session import pin


def read_parquet(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Parquet scan. Schema from footers unless pinned; filters/projections
    applied by callers reach the scan via Catalyst (PushedFilters).
    ``merge_schema=True`` reconciles files written under an EVOLVED schema
    (added columns read as NULL for old files) — corpora accrete columns
    over years at 100 TB; note it reads every file's footer, so pin a
    schema instead once the union schema is known."""
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_file_bytes)`` files (write-then-swap). Returns the new file count.

    Streaming sinks, micro-batch appends, and over-parallel writers leave
    thousands of KB-sized files; at 100 TB the resulting footer reads +
    task-per-file scheduling dominate scan time long before IO does — the
    standard cure is periodic compaction toward ~128 MB files (one HDFS
    block / S3 ranged GET sweet spot). Uses on-disk size, not row count,
    so wide and narrow tables both land near the target. ``coalesce``
    (not ``repartition``) merges files WITHOUT a shuffle when shrinking.

    Hive-partitioned layouts (``key=value/`` directories) are preserved
    byte-identically: partition-column TYPE INFERENCE is disabled for the
    rewrite read, so a string key whose values look numeric (``source=01``)
    is NOT re-encoded as ``source=1`` — directory names round-trip exactly,
    and downstream readers re-infer types as before. The rewrite
    re-partitions by the same keys, compacting WITHIN each partition.
    Size discovery walks the local filesystem — on HDFS/S3 swap it for the
    FileSystem/listObjects API; the Spark plan is identical."""
    import math

    part_keys: list[str] = []
    probe = path
    while True:  # descend one key=value level per loop to learn the layout
        subdirs = [
            d for d in (os.listdir(probe) if os.path.isdir(probe) else [])
            if "=" in d and os.path.isdir(os.path.join(probe, d))
        ]
        if not subdirs:
            break
        part_keys.append(subdirs[0].split("=", 1)[0])
        probe = os.path.join(probe, subdirs[0])

    def _data_files() -> list[str]:
        return [
            os.path.join(root, f)
            for root, _dirs, files in os.walk(path)
            for f in files
            if not f.startswith(("_", "."))
        ]

    total = sum(os.path.getsize(f) for f in _data_files())
    n_target = max(1, math.ceil(total / target_file_bytes))
    infer_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev_infer = spark.conf.get(infer_key, "true")
    tmp = path + ".__compact__"
    try:
        if part_keys:
            spark.conf.set(infer_key, "false")  # keep key=value names exact
        df = spark.read.parquet(path)
        writer = df.coalesce(n_target).write.mode("overwrite")
        if part_keys:
            # coalesce bounds total tasks; partitionBy keeps pruning layout
            writer = writer.partitionBy(*part_keys)
        writer.parquet(tmp)
    finally:
        spark.conf.set(infer_key, prev_infer)
    shutil.rmtree(path)
    os.rename(tmp, path)
    return len(_data_files())


def read_reference_json_array(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Read the reference's exact persistence format — ONE file containing a
    JSON ARRAY of records (`SemanticDatabase.cs:524-525` serializes
    ``List<SemanticRecord<T>>``): requires multiLine mode."""
    return spark.read.schema(schema).option("multiLine", "true").json(path)


def write_reference_json_array(df: DataFrame, path: str) -> None:
    """Write the reference's EXACT persistence format: one file holding a
    JSON array of ``{"Item": <T>, "Embedding": [...]}`` records
    (`SemanticDatabase.cs:524-525` serializes ``List<SemanticRecord<T>>``;
    `LoadAsync` reads it back at `:488-489`). ``df`` must have the index
    schema (item = canonical JSON string, embedding = array<float>); Item
    is re-inflated from the canonical JSON so a .NET reader sees the typed
    object, not a quoted string.

    The format is single-file and non-splittable BY DESIGN (`README.md:2`);
    rows stream through the driver via ``toLocalIterator`` one partition at
    a time — an explicit compat export for reference-sized stores, never
    the primary sink (that is parquet)."""
    import json

    tmp = path + ".__tmpfile__"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write("[")
        first = True
        for row in df.toLocalIterator():
            rec = {
                "Item": json.loads(row["item"]),
                "Embedding": [float(x) for x in row["embedding"]],
            }
            f.write(("" if first else ",") + json.dumps(rec, ensure_ascii=False))
            first = False
        f.write("]")
    os.replace(tmp, path)


def load_reference_json_array(spark: SparkSession, path: str) -> DataFrame:
    """Parse a reference-produced JSON-array store file into the index
    schema: item = canonical JSON of ``Item`` (the reference's equality +
    embedding key, `SemanticDatabase.cs:161`), embedding = array<float>.

    Driver-side parse: the file is one non-splittable JSON array (small by
    the reference's own "experiments and small projects" charter,
    `README.md:2`); for bulk corpora use parquet."""
    import json

    from pyspark.sql.types import ArrayType, FloatType, StringType, StructField

    # the index's equality key MUST come from the one canonicalizer —
    # an inline json.dumps here would silently fork the key format.
    from semantic_index_spark.index import canonical_json

    with open(path, encoding="utf-8") as f:
        recs = json.load(f)
    rows = [
        (canonical_json(r["Item"]), [float(x) for x in r["Embedding"]])
        for r in recs
    ]
    schema = StructType(
        [
            StructField("item", StringType(), nullable=False),
            StructField("embedding", ArrayType(FloatType(), containsNull=False), nullable=False),
        ]
    )
    return spark.createDataFrame(rows, schema)


def zorder_key(
    cols: list[tuple[str, float, float]], bits: int = 8
) -> "Column":
    """Z-order (Morton) clustering key over ``cols`` = [(name, lo, hi), …]:
    each column is quantized to a ``bits``-bit cell over its [lo, hi) domain
    and the cell bits are interleaved into one BIGINT. Sorting a corpus by
    this key before writing (``df.sortWithinPartitions(zorder_key(...))``)
    co-locates rows that are close in EVERY dimension, so parquet row-group
    min/max stats skip data for multi-column box predicates — the layout
    lever behind Delta/Iceberg ``OPTIMIZE ZORDER BY``, in plain Spark.

    Pure JVM bit arithmetic (shiftright/&/cast — whole-stage codegen), no
    UDF; mirrors exactly in the DuckDB oracle. Out-of-domain values clamp
    to the edge cells. k·bits must fit a BIGINT (k·bits ≤ 62)."""
    import pyspark.sql.functions as F

    k = len(cols)
    if k == 0:
        raise ValueError("zorder_key: need at least one column")
    if k * bits > 62:
        raise ValueError(f"zorder_key: {k} cols × {bits} bits exceeds 62")
    terms = []
    for i, (name, lo, hi) in enumerate(cols):
        if not hi > lo:
            raise ValueError(f"zorder_key: need hi > lo for {name}")
        cell = F.least(
            F.lit((1 << bits) - 1),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col(name).cast("double") - F.lit(float(lo)))
                    / F.lit((float(hi) - float(lo)) / (1 << bits))
                ),
            ),
        ).cast("bigint")
        for j in range(bits):
            terms.append(
                F.shiftleft(F.shiftright(cell, j).bitwiseAND(F.lit(1)), j * k + i)
            )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out.cast("bigint")


def read_jsonl_quarantine(
    spark: SparkSession, path: str, schema: StructType
) -> tuple[DataFrame, DataFrame]:
    """Robust JSONL ingest for raw web/corpus dumps: parse with an EXPLICIT
    schema in PERMISSIVE mode and split the result into (good, quarantined)
    — good rows typed to ``schema``, quarantined rows carrying the raw
    un-parseable line for a repair/audit pass. At 100 TB a single corrupt
    line must never fail the job (FAILFAST) nor vanish silently
    (DROPMALFORMED); quarantine is the production posture.

    The corrupt-record column must be part of the read schema, and Spark
    refuses a query that selects ONLY that column from an uncached scan —
    the parsed frame is pinned here (documented Spark requirement), which
    also makes the two returned branches share one parse of the input.
    """
    import pyspark.sql.functions as F
    from pyspark.sql.types import StringType, StructField

    corrupt = "_corrupt_record"
    full = StructType(list(schema.fields) + [StructField(corrupt, StringType())])
    parsed = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt)
        .json(path)
        .transform(pin, "read_jsonl_quarantine: parsed")
    )
    good = parsed.where(F.col(corrupt).isNull()).drop(corrupt)
    bad = parsed.where(F.col(corrupt).isNotNull()).select(
        F.col(corrupt).alias("raw_line")
    )
    return good, bad
