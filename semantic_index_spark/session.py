"""SparkSession bootstrap with scale-appropriate defaults.

The reference binds an embedding client in its constructors
(`SemanticDatabase.cs:42-62`); our equivalent bootstrap is a SparkSession
with configuration tuned for the target deployment. Locally we run
``local[N]``; the same settings (AQE, adaptive shuffle partitions, Arrow)
are what you'd set on a 1000-executor cluster, where
``spark.sql.shuffle.partitions`` becomes a floor that AQE coalesces from.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "semantic-index-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults chosen for 100 TB posture:
      * AQE on: runtime partition coalescing + skew-join splitting means a
        static ``shuffle.partitions`` misconfiguration self-heals.
      * Arrow on: every pandas_udf / toPandas boundary is columnar.
      * UTC session timezone: deterministic timestamp semantics across
        engines (the DuckDB oracle stores naive timestamps).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    # Make this package importable on executor Python workers regardless of
    # the caller's cwd: UDF closures reference classes from this package, and
    # cloudpickle resolves those by module path on the worker side. On a real
    # cluster the equivalent is shipping a wheel via spark.submit.pyFiles.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{existing}" if existing else pkg_parent
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def job_description(spark: SparkSession, text: str):
    """Describe the Spark jobs started inside the block as ``text`` (the
    description the status store and the UI show per job), then restore
    the caller's description, so a materialization point's jobs carry its
    name instead of the enclosing call's."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setJobDescription(prev)


def release_pin(df) -> None:
    """Free the blocks of a ``localCheckpoint`` pin. ``DataFrame.unpersist()``
    is a no-op on such a frame: its blocks belong to the RDD inside the
    ``LogicalRDD`` leaf, so this unpersists that RDD (non-blocking). ``df``
    must be the frame ``localCheckpoint`` returned, not a projection of it.
    Release a pin only once everything that reads it is materialized: once
    the pin is filled in its lineage is cut, so a later read of a released
    block fails ("checkpoint block not found") instead of recomputing it."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


# Resolved-relation cache: the unexecuted DataFrame handle per
# (session, sf_dir, table). A path-based ``spark.read.parquet`` builds a
# fresh InMemoryFileIndex and re-reads the parquet footer on EVERY call
# (~100 ms of driver-side metadata work here; a namenode/object-store
# listing round-trip at scale) even though the inputs are immutable.
# Catalog tables get exactly this cache from Spark's own
# ``filesourceTableRelationCache`` — path reads don't, so we hold the
# analyzed handle ourselves. METADATA only: no ``.cache()``, no data or
# result is pinned, every action still scans the parquet files.
_TABLE_RELATION_CACHE: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one synthetic table (TESTDATA.md): parquet scan with schema from
    the footer. Filters/projections applied downstream reach this scan via
    Catalyst pushdown — callers should NOT cache or materialize here.
    The resolved relation (file listing + schema, NOT data) is reused per
    session — the testdata tables are immutable (read-only mounts).

    The events table stores TIMESTAMP(NANOS) which Spark's parquet reader
    rejects; we read nanos as long (runtime conf) and rebuild a proper
    timestamp at microsecond precision (Spark's native resolution)."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    hit = _TABLE_RELATION_CACHE.get(key)
    if hit is not None:
        return hit
    df = _load_table_uncached(spark, sf_dir, name)
    _TABLE_RELATION_CACHE[key] = df
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str):
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            # exact integer division: `/` would promote to double, whose ulp
            # at epoch-nanos magnitude (~1.7e18) is ~256ns — rows could land
            # ±1µs off and shift across window boundaries.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def collect_bounded(df, max_rows: int, context: str = ""):
    """Guarded driver-side materialization: every deliberate ``collect()``
    in the operator modules routes through here so the bounded-model
    contract — the driver holds MODELS and SUMMARIES (centroids, sketch
    registers, gradient vectors, query sets), never the corpus — is
    enforced rather than merely documented. Fetches at most
    ``max_rows + 1`` rows through a pushed-down ``limit`` and raises if
    the cap is exceeded: at 100 TB a mis-sized collect fails fast with a
    named contract instead of OOMing the driver. Row content and order
    are unchanged for any input within the cap."""
    if max_rows < 0:
        raise ValueError(f"collect_bounded: max_rows must be >= 0, got {max_rows}")
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        what = context or "collect_bounded input"
        raise ValueError(
            f"{what}: driver-side collect exceeded the {max_rows}-row cap "
            "(bounded-model contract violated)"
        )
    return rows
