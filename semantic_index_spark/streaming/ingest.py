"""Structured Streaming surface.

Maps the reference's async-stream ingest —
``AddRangeAsync(IAsyncEnumerable<T>)`` consumes an unbounded item stream
(`SemanticDatabase.cs:213-221`) — onto ``readStream`` → ``foreachBatch``
upsert, and adds the event-time operators (watermarks, stream-stream
joins, stateful dedup) the reference lacks
[absent in reference — north-star extension].

All builders operate on any streaming DataFrame; tests drive them with the
file source over `events`-shaped parquet using ``trigger(availableNow=True)``
so results are finite and assertable. ``foreachBatch`` gives each micro-batch
to the same broadcast-anti-join upsert the batch path uses — exactly-once
per epoch with checkpointing.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import TimestampNTZType

from semantic_index_spark.session import pin

# stream_upsert_into_index: how many micro-batches between full index
# compactions (each compact is O(index); between them lineage grows one
# join/union layer per batch, which analysis handles fine at this depth).
COMPACT_EVERY_N_BATCHES = 8


def ensure_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TIMESTAMP (with local timezone).

    ``withWatermark`` rejects TIMESTAMP_NTZ outright
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), and parquet sources legitimately
    round-trip as NTZ depending on writer metadata and
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` — so every event-time
    builder must survive an NTZ source, not assume the fixture wrote TZ.
    The cast interprets the naive time in the session timezone, the same
    interpretation ``unix_timestamp`` uses on NTZ, so batch/stream parity
    is preserved."""
    if col in df.columns and isinstance(df.schema[col].dataType, TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def stream_events(spark, path: str, schema) -> DataFrame:
    """File-based streaming source over an events directory. In production
    this would be Kafka/Kinesis; the transformation graph is identical.
    Any TIMESTAMP_NTZ columns are normalized to TIMESTAMP so downstream
    watermarks (which reject NTZ) work regardless of how the parquet files
    encoded their timestamps."""
    stream = spark.readStream.schema(schema).parquet(path)
    for field in stream.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            stream = stream.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return stream


def dedup_within_watermark(events: DataFrame, keys: list[str], watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup with bounded state —
    ``dropDuplicatesWithinWatermark`` keeps keys only within the watermark
    horizon (the streaming form of the reference's SKIP policy,
    `DuplicateHandling.cs:22`)."""
    return (
        ensure_event_time(events)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(keys)
    )


def stream_upsert_into_index(stream_df: DataFrame, index, checkpoint: str) -> DataStreamWriter:
    """`AddRangeAsync(IAsyncEnumerable)` analogue
    (`SemanticDatabase.cs:213-221`): each micro-batch of items is upserted
    into a SemanticIndex with its configured duplicate policy via
    foreachBatch. Checkpointing makes the upsert exactly-once per epoch."""

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        # foreachBatch contract: batch_df is only valid INSIDE this call,
        # so pin THIS batch eagerly — O(batch) work —
        # and the index's lineage never re-reads the streaming source
        # (non-replayable with Kafka retention).
        pinned = pin(batch_df, "stream_upsert_into_index: batch", "eager")
        # stays distributed: the micro-batch DataFrame is embedded via the
        # vectorized pandas_udf and upserted with the same broadcast
        # anti-join program the batch path uses — no collect() to the
        # driver, so a 10M-row micro-batch never funnels through one node.
        index.upsert_df(pinned)
        # Full compact() re-materializes the ENTIRE index — O(index), not
        # O(batch) — so run it on a cadence only to bound the join/union
        # lineage depth, not every epoch.
        if epoch_id % COMPACT_EVERY_N_BATCHES == COMPACT_EVERY_N_BATCHES - 1:
            index.compact()

    return stream_df.writeStream.foreachBatch(_apply).option("checkpointLocation", checkpoint)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: left events matched to right events for
    the same key where the right event happened within ``within`` BEFORE
    the left one. Both sides carry watermarks and the join condition
    bounds the time skew — REQUIRED so each side's buffered state is
    evicted once the watermark passes (unbounded state otherwise).
    The classic purchase←view attribution join."""
    l = ensure_event_time(left, left_ts).withWatermark(left_ts, watermark).alias("l")
    r = ensure_event_time(right, right_ts).withWatermark(right_ts, watermark).alias("r")
    return l.join(
        r,
        F.expr(
            f"l.{on} = r.{on} AND r.{right_ts} <= l.{left_ts} "
            f"AND r.{right_ts} >= l.{left_ts} - INTERVAL {within}"
        ),
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState`` —
    the escape hatch when built-in windowed aggregation can't express the
    logic (arbitrary per-key state machines). Here: per-user cumulative
    event count + value total maintained in explicit GroupState across
    micro-batches, emitting the running totals each batch (update mode).

    State is per-key and O(1) per user; at scale the keys hash-partition
    across executors and each micro-batch touches only the keys present in
    that batch. [absent in reference — north-star extension]"""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def _update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, float(total)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 6)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType="user_id bigint, n_events bigint, total_value double",
        stateStructType="n bigint, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_batch_like(stream_writer: DataStreamWriter):
    """Drain all available input then stop (availableNow trigger) — the
    test/bench harness for finite sources."""
    q = stream_writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def incremental_sketch_sink(path: str, partials_fn, merge_fn):
    """``foreachBatch`` maintainer for any MERGEABLE sketch (HLL registers,
    CMS counters, histogram bins): each micro-batch computes its own
    partial sketch rows (``partials_fn(batch_df)``), unions them with the
    sketch table at ``path``, re-merges (``merge_fn``) and swaps the table
    atomically. The sketch table is O(sketch state) — 2^p registers /
    depth·width counters — so the per-epoch cost is independent of history
    size: this is how a 100 TB pipeline keeps "distinct users ever" or
    "term frequencies ever" current without ever re-reading raw data
    (the merge-property pytest asserts stream == one-shot batch sketch).
    Local-FS dir swap here; on object stores / table formats the swap is a
    versioned-prefix or transactional commit (see sources/io.py)."""
    import shutil
    import uuid

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        part = partials_fn(batch_df)
        if os.path.isdir(path):
            prev = spark.read.parquet(path)
            merged = merge_fn(part.unionByName(prev))
        else:
            merged = merge_fn(part)
        tmp = f"{path}._tmp_{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(path):
            shutil.rmtree(path)
        os.replace(tmp, path)

    return _apply


def incremental_hll_sink(path: str, col: str, p: int = 12):
    """HLL register maintenance across micro-batches: registers max-merge
    (the HLL union property), so the table at ``path`` always equals the
    one-shot sketch of everything ever streamed."""
    from semantic_index_spark.functions import sketch as SKT

    return incremental_sketch_sink(
        path,
        lambda b: SKT.hll_registers(b, col, p),
        lambda u: u.groupBy("idx").agg(F.max("rho").alias("rho")),
    )


def incremental_histogram_sink(path: str, col: str, lo: float, hi: float, bins: int = 64):
    """Fixed-bin histogram maintenance across micro-batches: bin counts
    ``+``-merge, so the ≤bins-row table at ``path`` always equals the
    one-shot histogram of everything ever streamed. Feeding it and a
    fresh batch's histogram to :func:`semantic_index_spark.functions.
    sketch.psi_drift`'s bin math turns this into STREAMING drift
    monitoring — "has today's value distribution shifted against all of
    history" — without re-reading a byte of history."""
    from semantic_index_spark.functions import sketch as SKT

    return incremental_sketch_sink(
        path,
        lambda b: SKT.histogram_bins(b, col, lo, hi, bins),
        # re-select into histogram_bins' canonical column order so the
        # maintained table is schema-identical to the one-shot sketch
        lambda u: u.groupBy("bin", "bin_lo")
        .agg(F.sum("n").cast("bigint").alias("n"))
        .select("bin", "n", "bin_lo"),
    )


DECAY_T0 = "2024-01-01 00:00:00"


def _halvings_since_t0(ts_col: str, half_life_days: float, t0: str) -> "F.Column":
    # halvings of age relative to the FIXED origin t0 — the rebasing trick
    # that makes an exponentially decayed sum mergeable: partials store
    # v·2^((ts−t0)/hl) and ANY read time T rescales by 2^(−(T−t0)/hl).
    secs = F.col(ts_col).cast("timestamp").cast("double") - F.lit(t0).cast(
        "timestamp"
    ).cast("double")
    return secs / F.lit(86400.0 * half_life_days)


def decayed_sum_sink(
    path: str,
    ts_col: str,
    value_col: str,
    by: str,
    half_life_days: float,
    t0: str = DECAY_T0,
):
    """``foreachBatch`` maintainer for per-group exponentially time-decayed
    sums — the streaming twin of
    :func:`semantic_index_spark.operators.timeseries.time_decayed_sum`.

    Each micro-batch folds into (group, wsum, n_events) where
    ``wsum = Σ value·2^((ts−t0)/half_life)`` against a FIXED origin ``t0``;
    partials are plain ``+``-mergeable (exactly like the CMS counters), so
    the table at ``path`` is |groups| rows however much history streamed
    by. Read with :func:`read_decayed_sums` at any anchor time.

    ``t0`` bounds the exponent: doubles overflow past ~1000 half-lives of
    span, so pick an origin near the data epoch (and rebase the table —
    multiply wsum by 2^(−Δ/hl) — if a deployment outlives that)."""

    def partials(b: DataFrame) -> DataFrame:
        return (
            b.withColumn(
                "_w",
                F.col(value_col)
                * F.pow(F.lit(2.0), _halvings_since_t0(ts_col, half_life_days, t0)),
            )
            .groupBy(F.col(by))
            .agg(
                F.sum("_w").alias("wsum"),
                F.count(value_col).cast("bigint").alias("n_events"),
            )
        )

    return incremental_sketch_sink(
        path,
        partials,
        lambda u: u.groupBy(by).agg(
            F.sum("wsum").alias("wsum"),
            F.sum("n_events").cast("bigint").alias("n_events"),
        ),
    )


def read_decayed_sums(
    spark,
    path: str,
    at_ts: str,
    half_life_days: float,
    t0: str = DECAY_T0,
) -> DataFrame:
    """Score the maintained table at anchor ``at_ts``: every group's
    ``decayed_sum = wsum · 2^(−(at_ts−t0)/half_life)`` — one |groups|-row
    projection, no history read."""
    tbl = spark.read.parquet(path)
    scale = F.pow(
        F.lit(2.0),
        -(
            (
                F.lit(at_ts).cast("timestamp").cast("double")
                - F.lit(t0).cast("timestamp").cast("double")
            )
            / F.lit(86400.0 * half_life_days)
        ),
    )
    return tbl.select(
        F.col(tbl.columns[0]),
        (F.col("wsum") * scale).alias("decayed_sum"),
        "n_events",
    )


def moments_sink(path: str, value_col: str, by: str):
    """``foreachBatch`` maintainer for per-group moment partials
    (n, Σv, Σv²) — streaming mean/variance over everything ever streamed,
    O(|groups|) state, plain ``+``-merge like the CMS counters. Read with
    :func:`read_moments`.

    Σv² is exactly mergeable but loses precision when |mean| ≫ stddev
    (catastrophic cancellation); at that point shift values by a
    per-group constant before sinking (moments are shift-equivariant) or
    keep (n, mean, M2) with Chan's pairwise combine. For bounded metric
    ranges — scores, latencies, ratios — the plain form is exact enough
    and keeps the merge a one-line groupBy sum."""

    def partials(b: DataFrame) -> DataFrame:
        return b.groupBy(F.col(by)).agg(
            F.count(value_col).cast("bigint").alias("n"),
            F.sum(F.col(value_col).cast("double")).alias("s"),
            F.sum(F.col(value_col).cast("double") * F.col(value_col).cast("double")).alias("ss"),
        )

    return incremental_sketch_sink(
        path,
        partials,
        lambda u: u.groupBy(by).agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("s").alias("s"),
            F.sum("ss").alias("ss"),
        ),
    )


def read_moments(spark, path: str) -> DataFrame:
    """Finalize the maintained moment table: (group, n, mean, stddev) —
    sample stddev, NULL for single-observation groups (matching
    ``stddev_samp``)."""
    t = spark.read.parquet(path)
    mean = F.col("s") / F.col("n")
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / F.nullif(
        F.col("n") - 1, F.lit(0)
    )
    return t.select(
        F.col(t.columns[0]),
        "n",
        mean.alias("mean"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("stddev"),
    )


def merge_stream_sink(table: str, op_col: str | None = None):
    """Streaming MERGE INTO the bucketed versioned table — the
    Delta-streaming-upsert shape: each micro-batch applies
    ``versioned.merge_into_bucketed`` (update/insert, tombstone deletes
    via ``op_col``) and commits ONE new table version, rewriting only the
    buckets the batch touches. ``foreachBatch`` is at-least-once; the
    sink upgrades to exactly-once the transactional way — the batch's
    epoch id is recorded in the committed manifest, and a re-delivered
    epoch (restart between commit and checkpoint ack) is SKIPPED when the
    latest manifest already carries an equal-or-newer epoch. That is the
    same idempotency contract real table formats implement with txn ids;
    a per-epoch partition overwrite is the non-transactional fallback. A concurrent NON-stream writer committing
    mid-merge surfaces as an optimistic-commit conflict (r9); the sink
    re-plans and retries (``versioned.retry_commit``), re-checking the
    epoch guard each attempt so a retry never double-applies. Returns
    the ``foreachBatch`` callback."""
    from semantic_index_spark.sources import versioned as VER

    def _attempt(batch_df: DataFrame, epoch_id: int) -> None:
        man = VER._read_manifest(table)
        last = man.get("meta", {}).get("epoch_id")
        if last is not None and int(last) >= int(epoch_id):
            return  # re-delivered micro-batch: already committed
        VER.merge_into_bucketed(
            batch_df.sparkSession,
            table,
            batch_df,
            op_col=op_col,
            meta={"epoch_id": int(epoch_id)},
        )

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        VER.retry_commit(lambda: _attempt(batch_df, epoch_id))

    return _apply


def incremental_ivfpq_sink(
    path: str,
    codebooks,
    centroids,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Incremental IVF-PQ index maintenance riding the stream — ties the
    ANN serving family to the ingest family: each micro-batch of new
    vectors is PQ-encoded against the FROZEN codebooks, IVF-cell-assigned,
    and landed under the ``_cell=``-partitioned code layout as its own
    ``batch_id=<epoch>`` partitions (``similarity.append_ivfpq_index``).
    Encoding is a pure function of (embedding, frozen artifacts), so the
    served index always equals a from-scratch encode of everything ever
    streamed; dynamic partition overwrite keyed by the epoch makes a
    re-delivered batch overwrite itself — exactly-once without a
    transaction log. Probe
    queries (``similarity.ivfpq_topk_indexed``) keep planning-time cell
    pruning throughout; codebook/centroid re-training remains the one
    rebuild event. Returns the ``foreachBatch`` callback."""
    from semantic_index_spark.operators import similarity as SIM

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        SIM.append_ivfpq_index(
            batch_df,
            codebooks,
            centroids,
            path,
            emb_col=emb_col,
            id_col=id_col,
            batch_id=int(epoch_id),
        )

    return _apply


def incremental_ivfsq_sink(
    path: str,
    centroids,
    model: dict,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Incremental IVF-SQ8 index maintenance riding the stream — the
    byte-code twin of :func:`incremental_ivfpq_sink`, completing the
    maintenance symmetry across the two compressed served layouts: each
    micro-batch of new vectors is SQ8-encoded against the FROZEN
    quantizer, IVF-cell-assigned against the frozen centroids, and landed
    under the ``_cell=``-partitioned code layout as its own
    ``batch_id=<epoch>`` partitions (``similarity.append_ivfsq_index``).
    Encoding is a pure function of (embedding, frozen artifacts), so the
    served index always equals a from-scratch encode of everything ever
    streamed; dynamic partition overwrite keyed by the epoch makes a
    re-delivered batch overwrite itself — exactly-once without a
    transaction log. Probe
    queries (``similarity.ivfsq_topk_indexed``) keep planning-time cell
    pruning throughout; quantizer/centroid re-training remains the one
    rebuild event. Returns the ``foreachBatch`` callback."""
    from semantic_index_spark.operators import similarity as SIM

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        SIM.append_ivfsq_index(
            batch_df,
            centroids,
            model,
            path,
            emb_col=emb_col,
            id_col=id_col,
            batch_id=int(epoch_id),
        )

    return _apply


def incremental_hnsw_sink(
    path: str,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Streaming HNSW maintenance riding ``foreachBatch`` — completes
    incremental maintenance across ALL FOUR served ANN layouts (IVF-flat/
    PQ/SQ8 use epoch-partition overwrite; the graph is STATEFUL, so this
    one replaces partition idempotency with a replay LEDGER): each
    micro-batch resumes the insertion procedure inside only the shards it
    touches (``hnsw.append_hnsw_index``), and the applied epoch id is
    recorded in the layout's meta file — a re-delivered micro-batch is
    skipped, so restart/replay is exactly-once. Appends stay
    single-writer per layout (the append contract); retraining (m /
    ef_construction / seed) remains the one rebuild event. Returns the
    ``foreachBatch`` callback."""
    from semantic_index_spark.operators import hnsw as H

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        H.append_hnsw_index(
            batch_df, path, id_col=id_col, emb_col=emb_col, epoch_id=int(epoch_id)
        )

    return _apply


def incremental_sample_sink(path: str, key_col: str, payload_cols: list[str], k: int = 512):
    """Uniform-sample maintenance across micro-batches: keep the k rows
    with the globally smallest md5(key) ranks ever streamed
    (functions.sketch.hashrank_sample). Because bottom-k-by-hash is a
    property of the union, the maintained sample always equals the
    one-shot sample of everything streamed (stream == batch pytest) —
    the deterministic replacement for per-executor reservoir sampling,
    and the state is O(k) regardless of history. Downstream quantile /
    mean estimates read k rows, never the firehose."""
    from semantic_index_spark.functions import sketch as SKT

    def _partials(b: DataFrame) -> DataFrame:
        return SKT.hashrank_sample(b, key_col, payload_cols, k=k)

    def _merge(u: DataFrame) -> DataFrame:
        deduped = u.dropDuplicates(["h"]).orderBy("h").limit(k).drop("rank")
        from pyspark.sql import Window as _W

        return deduped.select(
            F.row_number().over(_W.orderBy("h")).cast("int").alias("rank"), "*"
        )

    return incremental_sketch_sink(path, _partials, _merge)


def incremental_mg_sink(path: str, col: str, k: int = 16):
    """Misra-Gries heavy-hitter maintenance across micro-batches: each
    epoch's exact batch counts reduce to an MG summary and merge into the
    k-counter state table (counter add + (k+1)-th-largest reduction — the
    Agarwal et al. mergeable-summaries algebra, error bounds add to the
    global n/(k+1) guarantee). Deterministic count arithmetic end to end,
    state is O(k) regardless of history — the guaranteed-containment
    heavy-hitter complement to the CMS sink's point estimates."""
    from semantic_index_spark.functions import sketch as SKT

    def _partials(b: DataFrame) -> DataFrame:
        return SKT.mg_summary(b, col, k=k)

    def _merge(u: DataFrame) -> DataFrame:
        summed = u.groupBy("item").agg(F.sum("cnt").cast("bigint").alias("cnt"))
        return SKT._mg_reduce(summed, k, "item", "cnt")

    return incremental_sketch_sink(path, _partials, _merge)


def incremental_weighted_sample_sink(
    path: str, key_col: str, weight_col: str, n: int = 256
):
    """Weight-proportional sample (without replacement) maintained across
    micro-batches: the Efraimidis-Spirakis competition key u^(1/w) is a
    pure md5 function of each row's (key, weight), so "the n largest keys
    ever streamed" is a property of the union — each epoch takes the
    batch's top n (skew.weighted_sample), unions with the state, dedups
    re-delivered rows, and re-competes; the maintained table always
    equals the one-shot batch sample of everything streamed
    (stream==batch pytest). O(n) state; the deterministic streaming twin
    of rand()-based reservoir weighting.

    Redelivery contract: a key re-delivered with the SAME weight is an
    at-least-once duplicate and dedups away; a key re-delivered with a
    DIFFERENT weight would make "the" sample ill-defined (which weight
    competes?), so the merge dedups on (key, weight) and keeps the row
    with the LARGEST weight — deterministic last-write-wins by weight,
    never an arbitrary dropDuplicates survivor."""
    from semantic_index_spark.operators import skew as SK

    def _partials(b: DataFrame) -> DataFrame:
        return SK.weighted_sample(b, key_col, weight_col, n).drop("sample_key")

    def _merge(u: DataFrame) -> DataFrame:
        from pyspark.sql.window import Window

        per_key = (
            u.dropDuplicates([key_col, weight_col])
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy(key_col).orderBy(F.col(weight_col).desc())
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        return SK.weighted_sample(per_key, key_col, weight_col, n).drop("sample_key")

    return incremental_sketch_sink(path, _partials, _merge)
