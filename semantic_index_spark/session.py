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
import threading
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


def _checkpoint_rdd(df):
    # the RDD in a checkpoint pin's LogicalRDD leaf holds the pin's blocks
    return df._jdf.queryExecution().analyzed().rdd()


def release_pin(df) -> None:
    """Free the blocks of a ``lazy`` or ``eager`` pin now, before its scope
    ends (non-blocking). Only for a pin that dies early, such as the
    superseded round of a loop; :func:`pinned` releases the rest."""
    _checkpoint_rdd(df).unpersist(False)


_SCOPES = threading.local()


def _scopes() -> list:
    return _SCOPES.__dict__.setdefault("stack", [])


def pin(df, name: str, mode: str = "lazy"):
    """Materialize ``df`` once for every reader that follows, and return the
    pinned frame. Every materialization in the package and the registry
    goes through here. While a :func:`pinned` scope is open on this thread,
    the pin belongs to the innermost one and is freed when it exits.
    Outside any scope the ContextCleaner frees a checkpoint pin once the
    frame is garbage-collected, and a ``partitioned`` pin stays in Spark's
    CacheManager for the rest of the session.

    ``mode``:

    - ``lazy``: ``localCheckpoint(eager=False)``. The plan is cut to a
      ``LogicalRDD`` now and the blocks fill during the first action that
      reads them, so a lazy pin pays off when one action uses it: the
      whole recurrence of an iterative operator runs inside the caller's
      single action, with no driver round trip per round. ``isEmpty`` (or
      any probe) on a lazy pin costs an extra job: the probe computes the
      partitions it needs and ``doCheckpoint`` then runs a second job that
      fills the rest.
    - ``eager``: ``localCheckpoint(eager=True)``. The blocks fill now, in a
      job described as ``name``; for a frame that several actions read or
      that a driver-side loop probes.
    - ``partitioned``: ``cache()``. A checkpoint pin loses the frame's
      partitioning: measured on Spark 4.1.2, a join on ``_src`` against a
      ``repartition("_src")`` frame reads a cached frame with no Exchange
      on that side, while a lazy or an eager ``localCheckpoint`` of the
      same frame adds an ``Exchange hashpartitioning``. Only for an edge
      list that every round joins on its partitioning key.

    The pinned RDD is named ``name``, so a storage census lists it. A
    checkpoint pin keeps its blocks until it is released, and
    ``DataFrame.unpersist()`` does not free it; release it only once every
    frame that reads it is materialized, because its lineage is cut and a
    later read of a released block fails ("checkpoint block not found")
    instead of recomputing it."""
    if mode == "partitioned":
        out = df.cache()
    elif mode in ("lazy", "eager"):
        with job_description(df.sparkSession, name):
            out = df.localCheckpoint(eager=mode == "eager")
        _checkpoint_rdd(out).setName(name)
    else:
        raise ValueError(f"pin: mode must be lazy, eager or partitioned, got {mode!r}")
    if _scopes():
        _scopes()[-1].append((out, mode))
    return out


@contextmanager
def pinned():
    """Release every pin made on this thread while the block runs, when it
    exits. Scopes nest: a pin belongs to the innermost open scope. The
    scope yields its list of ``(frame, mode)`` pins; an owner that outlives
    the block (a session memo) empties that list to keep its pins. The
    stack is per thread, so a ``foreachBatch`` body on the streaming
    callback thread never releases the pins of a scope open on the
    driver's main thread."""
    pins: list = []
    _scopes().append(pins)
    try:
        yield pins
    finally:
        _scopes().pop()
        for df, mode in reversed(pins):
            if mode == "partitioned":
                df.unpersist(False)
            else:
                release_pin(df)


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
