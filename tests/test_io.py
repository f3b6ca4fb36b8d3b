"""Sources/sinks: every reader/writer in sources/io.py exercised, plus the
reference-format JSON-array round-trip (`SemanticDatabase.cs:484-526`)."""

import json

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    StringType,
    StructField,
    StructType,
)

from semantic_index_spark import SemanticIndex
from semantic_index_spark.embedder import DeterministicEmbedder
from semantic_index_spark.index import canonical_json
from semantic_index_spark.sources import io as sio


@pytest.fixture()
def idx(spark):
    ix = SemanticIndex(spark, embedder=DeterministicEmbedder(dim=8))
    ix.add_range(["cat", "dog", {"name": "fish", "legs": 0}])
    return ix


def _records(ix):
    return sorted((r["item"], tuple(r["embedding"])) for r in ix.records.collect())


def test_ref_json_array_round_trip(spark, idx, tmp_path):
    """save(fmt='ref_json') writes the reference's exact on-disk shape; a
    fresh index load()s it back bit-identically."""
    path = str(tmp_path / "store.json")
    before = _records(idx)
    idx.save(path, fmt="ref_json")

    # on-disk shape: ONE file, a JSON array of {Item, Embedding} — what the
    # .NET reference serializes (SemanticDatabase.cs:524-525) and expects
    # back (:488-489).
    raw = json.load(open(path, encoding="utf-8"))
    assert isinstance(raw, list) and len(raw) == 3
    assert set(raw[0].keys()) == {"Item", "Embedding"}
    items = {json.dumps(r["Item"], sort_keys=True) for r in raw}
    assert json.dumps("cat") in items  # typed Item, not a quoted-string blob
    assert any(isinstance(r["Item"], dict) for r in raw)

    ix2 = SemanticIndex(spark, embedder=DeterministicEmbedder(dim=8))
    ix2.load(path, fmt="ref_json")
    assert _records(ix2) == before


def test_load_reference_authored_file(spark, tmp_path):
    """A file written the way the C# reference writes it (PascalCase keys,
    typed Items) loads into the index schema with canonical-JSON keys."""
    path = str(tmp_path / "test-database.json")
    payload = [
        {"Item": "cat", "Embedding": [0.1, 0.2]},
        {"Item": {"b": 2, "a": 1}, "Embedding": [0.3, 0.4]},
    ]
    with open(path, "w") as f:
        json.dump(payload, f)
    ix = SemanticIndex.from_file(
        spark, path, embedder=DeterministicEmbedder(dim=2), fmt="ref_json"
    )
    assert ix.count() == 2
    assert ix.contains("cat")
    assert ix.contains({"a": 1, "b": 2})  # key order canonicalized


def test_jsonl_self_round_trip(spark, idx, tmp_path):
    path = str(tmp_path / "store.jsonl")
    before = _records(idx)
    idx.save(path, fmt="json")
    ix2 = SemanticIndex(spark, embedder=DeterministicEmbedder(dim=8))
    ix2.load(path, fmt="json")
    assert _records(ix2) == before


def test_read_reference_json_array_spark_reader(spark, tmp_path):
    """The distributed multiLine reader for array files with a KNOWN item
    type (string): complements the driver-side arbitrary-type parser."""
    p = tmp_path / "arr.json"
    p.write_text(json.dumps([
        {"Item": "a", "Embedding": [1.0, 2.0]},
        {"Item": "b", "Embedding": [3.0, 4.0]},
    ]))
    schema = StructType(
        [
            StructField("Item", StringType()),
            StructField("Embedding", ArrayType(FloatType())),
        ]
    )
    got = sio.read_reference_json_array(spark, str(p), schema)
    assert sorted(r["Item"] for r in got.collect()) == ["a", "b"]


def test_merge_schema_reads_evolved_corpus(spark, tmp_path):
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id int, text string").write.parquet(path)
    spark.createDataFrame(
        [(2, "b", "en")], "id int, text string, lang string"
    ).write.mode("append").parquet(path)
    merged = sio.read_parquet(spark, path, merge_schema=True)
    assert set(merged.columns) == {"id", "text", "lang"}
    rows = {r["id"]: r["lang"] for r in merged.collect()}
    assert rows == {1: None, 2: "en"}  # old files surface NULL for new cols


def _data_files(path):
    import os

    out = []
    for root, _dirs, files in os.walk(path):
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return out


def test_compact_parquet_merges_small_files(spark, tmp_path):
    """A fragmented write (many tiny files) compacts to few files with
    identical rows — the periodic hygiene pass every streaming/append
    corpus needs."""
    import os

    path = str(tmp_path / "frag")
    spark.range(2000).select(
        F.col("id"), (F.col("id") % 7).alias("grp")
    ).repartition(40).write.parquet(path)
    assert len(_data_files(path)) == 40
    n = sio.compact_parquet(spark, path, target_file_bytes=64 * 1024 * 1024)
    files = _data_files(path)
    assert len(files) <= n <= 4
    got = spark.read.parquet(path)
    assert got.count() == 2000
    assert got.agg(F.sum("id")).collect()[0][0] == 2000 * 1999 // 2


def test_compact_parquet_preserves_partition_layout(spark, tmp_path):
    """Compaction of a Hive-partitioned layout must keep the key=value
    directories (downstream partition pruning depends on them), merging
    files only WITHIN partitions."""
    import os

    path = str(tmp_path / "part_frag")
    spark.range(900).select(
        F.col("id"), (F.col("id") % 3).cast("int").alias("bucket")
    ).repartition(30).write.partitionBy("bucket").parquet(path)
    before = len(_data_files(path))
    sio.compact_parquet(spark, path, target_file_bytes=64 * 1024 * 1024)
    after_dirs = {d for d in os.listdir(path) if d.startswith("bucket=")}
    assert after_dirs == {"bucket=0", "bucket=1", "bucket=2"}
    assert len(_data_files(path)) < before
    got = spark.read.parquet(path)
    assert got.count() == 900
    assert got.select("bucket").distinct().count() == 3


def test_read_jsonl_quarantine_splits_good_and_bad(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from semantic_index_spark.sources import io as sio

    p = str(tmp_path / "raw.jsonl")
    lines = [
        '{"doc_id": 1, "text": "hello"}',
        'this is not json at all',
        '{"doc_id": 2, "text": "world"}',
        '{"doc_id": "NaN-ish", "text": 3}',  # schema-violating types
    ]
    with open(p, "w") as f:
        f.write("\n".join(lines))
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    good, bad = sio.read_jsonl_quarantine(spark, p, schema)
    assert {(r["doc_id"], r["text"]) for r in good.collect()} == {(1, "hello"), (2, "world")}
    raws = [r["raw_line"] for r in bad.collect()]
    assert len(raws) == 2 and "not json" in raws[0]
    # nothing silently dropped: good + quarantined == input lines
    assert good.count() + bad.count() == len(lines)


def test_versioned_snapshots_time_travel_and_retention(spark, tmp_path):
    """Commit three versions, read each, verify atomic-latest semantics
    and retention (expire keeps the committed latest)."""
    from semantic_index_spark.sources import versioned as VER

    table = str(tmp_path / "vt")
    assert VER.current_version(table) is None
    for n in [3, 5, 7]:
        v = VER.commit_version(
            spark.range(n).withColumnRenamed("id", "x"), table
        )
    assert VER.current_version(table) == 2
    assert VER.list_versions(table) == [0, 1, 2]
    assert VER.read_version(spark, table).count() == 7        # latest
    assert VER.read_version(spark, table, 0).count() == 3     # time travel
    assert VER.read_version(spark, table, 1).count() == 5
    expired = VER.expire_versions(table, keep_last=2)
    assert expired == [0]
    assert VER.read_version(spark, table).count() == 7
    import pytest as _pt

    with _pt.raises(FileNotFoundError):
        VER.read_version(spark, table, 0)


def test_versioned_snapshot_failed_commit_is_invisible(spark, tmp_path):
    """An orphan v-directory without a pointer update never surfaces to
    readers and is reclaimed by retention."""
    import os

    from semantic_index_spark.sources import versioned as VER

    table = str(tmp_path / "vt2")
    VER.commit_version(spark.range(4).withColumnRenamed("id", "x"), table)
    # simulate a crash mid-commit: data written, pointer NOT advanced
    spark.range(9).withColumnRenamed("id", "x").write.parquet(
        os.path.join(table, "v=1")
    )
    assert VER.current_version(table) == 0
    assert VER.read_version(spark, table).count() == 4
    # a YOUNG orphan is indistinguishable from a concurrent writer's
    # in-flight commit — the default TTL must leave it alone
    assert VER.expire_versions(table, keep_last=2) == []
    assert VER.list_versions(table) == [0, 1]
    # past the TTL it is a crash leftover and is reclaimed
    assert VER.expire_versions(table, keep_last=2, orphan_ttl_seconds=0.0) == [1]
    assert VER.list_versions(table) == [0]


def test_versioned_expire_rejects_nonpositive_keep_last(spark, tmp_path):
    """keep_last=0 would slice [-0:] (keep everything) — must raise, not
    silently no-op."""
    import pytest as _pt

    from semantic_index_spark.sources import versioned as VER

    table = str(tmp_path / "vt3")
    VER.commit_version(spark.range(2).withColumnRenamed("id", "x"), table)
    with _pt.raises(ValueError):
        VER.expire_versions(table, keep_last=0)


# ---------------------------------------------------------------------------
# Optimistic concurrency (round 9): conditional commits, disjoint-bucket
# rebase, conflict-loser cleanliness
# ---------------------------------------------------------------------------


def _no_staged(table):
    import os as _os

    return not [d for d in _os.listdir(table) if d.startswith("_staged_")]


def test_commit_version_conflict_fails_loser_cleanly(spark, tmp_path):
    import pytest as _pt

    from semantic_index_spark.sources import versioned as VER

    t = str(tmp_path / "occ_plain")
    VER.commit_version(spark.range(3).withColumnRenamed("id", "x"), t)  # v0
    VER.commit_version(spark.range(5).withColumnRenamed("id", "x"), t)  # v1
    # a writer that planned against v0 must NOT clobber v1 (the old
    # last-writer-wins pointer behavior) — it fails with a retryable error
    with _pt.raises(VER.CommitConflictError):
        VER.commit_version(
            spark.range(9).withColumnRenamed("id", "x"), t, expected_version=0
        )
    assert VER.current_version(t) == 1
    assert VER.read_version(spark, t).count() == 5
    assert _no_staged(t)  # the loser's staging is removed, not orphaned
    # the documented recovery: re-read, re-derive, commit against v1
    assert (
        VER.commit_version(
            spark.range(9).withColumnRenamed("id", "x"), t, expected_version=1
        )
        == 2
    )
    # expected_version=None asserts "table still empty" — conflicts here
    with _pt.raises(VER.CommitConflictError):
        VER.commit_version(
            spark.range(1).withColumnRenamed("id", "x"), t, expected_version=None
        )


def _ids_by_bucket(spark, n_buckets, n=400):
    from semantic_index_spark.sources import versioned as VER

    df = spark.range(n).select("id", VER._bucket_expr(["id"], n_buckets).alias("b"))
    out = {}
    for r in df.collect():
        out.setdefault(r["b"], []).append(r["id"])
    return out


def test_bucketed_disjoint_concurrent_commits_both_win(spark, tmp_path, monkeypatch):
    """Two writers that planned against the same version but touch
    DISJOINT buckets both land (Delta's file-level conflict granularity):
    the later one rebases its manifest onto the winner's."""
    from semantic_index_spark.sources import versioned as VER

    tb = str(tmp_path / "occ_bucketed")
    n_buckets = 8
    base = spark.range(0, 200).selectExpr("id", "cast(id * 7 as string) AS val")
    VER.create_bucketed(base, tb, ["id"], n_buckets=n_buckets)
    by_bucket = _ids_by_bucket(spark, n_buckets, 200)
    (bA, idsA), (bB, idsB) = sorted(by_bucket.items())[:2]
    man0 = VER._read_manifest(tb)

    # writer B wins the race: a normal merge touching only bucket bB
    srcB = spark.createDataFrame([(idsB[0], "B")], "id bigint, val string")
    assert VER.merge_into_bucketed(spark, tb, srcB) == 1

    # writer A planned against v0 (stale manifest) and touches only bA
    real_rm = VER._read_manifest

    def stale_rm(table, version=None):
        if version is None and table == tb:
            return man0
        return real_rm(table, version)

    srcA = spark.createDataFrame([(idsA[0], "A")], "id bigint, val string")
    with monkeypatch.context() as m:
        m.setattr(VER, "_read_manifest", stale_rm)
        vA = VER.merge_into_bucketed(spark, tb, srcA)
    assert vA == 2  # rebased onto v1, not clobbering it

    # BOTH commits' effects are visible; everything else untouched
    got = {r["id"]: r["val"] for r in VER.read_bucketed(spark, tb).collect()}
    assert got[idsA[0]] == "A" and got[idsB[0]] == "B"
    assert len(got) == 200
    man = VER._read_manifest(tb)
    assert man["buckets"][str(bA)] == 2 and man["buckets"][str(bB)] == 1

    # writer C also planned against v0 but touches bucket bB — OVERLAP
    # with B's commit: must fail, leaving v2 state and no staging behind
    import pytest as _pt

    srcC = spark.createDataFrame([(idsB[1], "C")], "id bigint, val string")
    with monkeypatch.context() as m:
        m.setattr(VER, "_read_manifest", stale_rm)
        with _pt.raises(VER.CommitConflictError):
            VER.merge_into_bucketed(spark, tb, srcC)
    assert VER.current_version(tb) == 2
    got2 = {r["id"]: r["val"] for r in VER.read_bucketed(spark, tb).collect()}
    assert got2 == got
    assert _no_staged(tb)


def test_bucketed_stale_delete_rebases_or_conflicts(spark, tmp_path, monkeypatch):
    """Deletion-vector commits follow the same contract: disjoint buckets
    rebase (both the merge and the delete land), overlapping conflict."""
    import pytest as _pt

    from semantic_index_spark.sources import versioned as VER

    tb = str(tmp_path / "occ_dv")
    n_buckets = 8
    base = spark.range(0, 200).selectExpr("id", "cast(id * 7 as string) AS val")
    VER.create_bucketed(base, tb, ["id"], n_buckets=n_buckets)
    by_bucket = _ids_by_bucket(spark, n_buckets, 200)
    (bA, idsA), (bB, idsB) = sorted(by_bucket.items())[:2]
    man0 = VER._read_manifest(tb)

    # winner: merge rewriting bucket bB
    VER.merge_into_bucketed(
        spark, tb, spark.createDataFrame([(idsB[0], "B")], "id bigint, val string")
    )

    real_rm = VER._read_manifest

    def stale_rm(table, version=None):
        if version is None and table == tb:
            return man0
        return real_rm(table, version)

    # stale delete touching only bucket bA: rebases onto v1
    with monkeypatch.context() as m:
        m.setattr(VER, "_read_manifest", stale_rm)
        v = VER.delete_bucketed(
            spark, tb, spark.createDataFrame([(idsA[0],)], "id bigint")
        )
    assert v == 2
    got = {r["id"]: r["val"] for r in VER.read_bucketed(spark, tb).collect()}
    assert idsA[0] not in got and got[idsB[0]] == "B" and len(got) == 199
    # stale delete touching bucket bB (rewritten by the winner): conflict
    with monkeypatch.context() as m:
        m.setattr(VER, "_read_manifest", stale_rm)
        with _pt.raises(VER.CommitConflictError):
            VER.delete_bucketed(
                spark, tb, spark.createDataFrame([(idsB[1],)], "id bigint")
            )
    assert VER.current_version(tb) == 2
    assert _no_staged(tb)


def test_hidden_commit_conflict_fails_loser_cleanly(spark, tmp_path, monkeypatch):
    """Hidden-partitioned tables share the versioned store's optimistic
    contract: a writer that planned against a stale version must fail
    with CommitConflictError, never clobber the winner's pointer."""
    import pytest as _pt

    from semantic_index_spark.sources import hidden as H
    from semantic_index_spark.sources import versioned as VER

    df = spark.createDataFrame([(i, i % 3) for i in range(30)], "id bigint, p bigint")
    t = str(tmp_path / "occ_hidden")
    H.create_hidden(df, t, [("identity", "p")])  # v0
    H.commit_hidden(df.filter("id < 10"), t)  # competitor wins: v1

    # hidden reads the pointer through versioned's one reader, bound into
    # its namespace: patching it there stales only hidden's planning read
    assert H.current_version is VER.current_version
    real_cv = H.current_version
    stale = {"used": False}

    def stale_cv(table):
        if not stale["used"]:
            stale["used"] = True
            return 0  # the loser's entry-time snapshot read
        return real_cv(table)

    with monkeypatch.context() as m:
        m.setattr(H, "current_version", stale_cv)
        with _pt.raises(VER.CommitConflictError):
            H.commit_hidden(df.filter("id >= 20"), t)
    assert H.current_version(t) == 1
    assert H.read_hidden(spark, t).count() == 10  # the winner's state
    assert _no_staged(t)

    # the composed skipping variant shares the contract, and a conflict
    # never leaves a zone-map manifest for an unpublished version
    t2 = str(tmp_path / "occ_hidden_skip")
    H.create_hidden_skipping(df, t2, [("identity", "p")], stats_cols=["id"], n_files=2)
    H.commit_hidden_skipping(df.filter("id < 10"), t2)  # v1
    stale["used"] = False
    with monkeypatch.context() as m:
        m.setattr(H, "current_version", stale_cv)
        with _pt.raises(VER.CommitConflictError):
            H.commit_hidden_skipping(df.filter("id >= 20"), t2)
    assert H.current_version(t2) == 1
    assert H.read_hidden_skipping(spark, t2).count() == 10
    assert _no_staged(t2)
    import os as _os

    assert not _os.path.exists(H._zonemap_path(t2, 2))


def test_append_skipping_interleaved_appenders_both_land(spark, tmp_path, monkeypatch):
    """Two appenders whose manifest merges interleave must BOTH land their
    file entries: the merge re-reads the manifest inside the shared
    pointer critical section, so the later writer extends rather than
    clobbers the earlier one's zone maps."""
    import json as _json
    import os as _os

    from semantic_index_spark.sources import skipping as Z

    base = spark.range(0, 100).selectExpr("id", "id * 2 AS v")
    t = str(tmp_path / "skip_occ")
    Z.write_skipping(base, t, ["v"], n_files=2, cluster_by="v")
    n0 = len(_json.load(open(_os.path.join(t, "_zonemaps.json")))["files"])

    # appender A stages its data, then appender B fully lands BEFORE A's
    # manifest merge — simulated by running B inside A's stats collection
    from semantic_index_spark.session import collect_bounded as real_cb
    import semantic_index_spark.sources.skipping as ZMOD

    sneak = {"done": False}

    def cb_then_sneak(df, cap, what):
        rows = real_cb(df, cap, what)
        if not sneak["done"] and what == "append_skipping file stats":
            sneak["done"] = True
            Z.append_skipping(
                spark.range(200, 250).selectExpr("id", "id * 2 AS v"), t, n_files=1
            )
        return rows

    with monkeypatch.context() as m:
        m.setattr("semantic_index_spark.session.collect_bounded", cb_then_sneak)
        # note: skipping imports collect_bounded inside the function body,
        # so the patched module attribute is what it resolves
        nA = Z.append_skipping(
            spark.range(100, 200).selectExpr("id", "id * 2 AS v"), t, n_files=1
        )
    assert sneak["done"] and nA >= 1
    man = _json.load(open(_os.path.join(t, "_zonemaps.json")))
    # every data file has a manifest entry — nobody's entries were lost
    data_files = {
        f for f in _os.listdir(_os.path.join(t, "data")) if f.startswith("part-")
    }
    assert set(man["files"]) == data_files
    assert len(man["files"]) >= n0 + 2
    # and reads see every row with pruning intact
    got = Z.read_skipping(spark, t, [("v", ">=", 300)]).count()
    assert got == 100  # ids 150..249 -> v 300..498


def test_retry_commit_recovers_from_conflicts(spark, tmp_path):
    """retry_commit re-runs the closure on CommitConflictError (the
    closure re-plans against the fresh latest) and re-raises once the
    attempts are exhausted."""
    import pytest as _pt

    from semantic_index_spark.sources import versioned as VER

    t = str(tmp_path / "occ_retry")
    VER.commit_version(spark.range(3).withColumnRenamed("id", "x"), t)  # v0

    calls = {"n": 0}

    def contended_commit():
        calls["n"] += 1
        # first attempt plans against a stale version; the retry re-reads
        expected = 0 if calls["n"] == 1 else VER.current_version(t)
        return VER.commit_version(
            spark.range(5).withColumnRenamed("id", "x"), t, expected_version=expected
        )

    VER.commit_version(spark.range(4).withColumnRenamed("id", "x"), t)  # v1
    assert VER.retry_commit(contended_commit, attempts=3) == 2
    assert calls["n"] == 2  # one conflict, one success
    with _pt.raises(VER.CommitConflictError):
        VER.retry_commit(
            lambda: VER.commit_version(
                spark.range(1).withColumnRenamed("id", "x"), t, expected_version=0
            ),
            attempts=2,
        )


def test_expire_hidden_retention_and_staged_reclaim(spark, tmp_path):
    """Hidden tables complete the lifecycle: expire drops old versions
    (the composed variant's zone-map manifest lives inside the version
    dir and goes with it) and reclaims aged staged orphans, never the
    committed latest."""
    import os as _os

    from semantic_index_spark.sources import hidden as H

    df = spark.createDataFrame([(i, i % 3) for i in range(30)], "id bigint, p bigint")
    t = str(tmp_path / "exp_hidden")
    H.create_hidden_skipping(df, t, [("identity", "p")], stats_cols=["id"], n_files=2)
    H.commit_hidden_skipping(df.filter("id < 20"), t)  # v1
    H.commit_hidden_skipping(df.filter("id < 10"), t)  # v2
    _os.makedirs(_os.path.join(t, "_staged_dead"))
    expired = H.expire_hidden(t, keep_last=2, orphan_ttl_seconds=0.0)
    assert expired == [0]
    assert not _os.path.isdir(_os.path.join(t, "v=0"))
    assert not _os.path.isdir(_os.path.join(t, "_staged_dead"))
    # survivors read fine at both retained versions, skipping intact
    assert H.read_hidden_skipping(spark, t).count() == 10
    assert H.read_hidden_skipping(spark, t, version=1).count() == 20
    assert H.read_hidden_skipping(spark, t, [("id", "<", 5)]).count() == 5


def test_staged_orphans_invisible_and_age_reclaimed(spark, tmp_path):
    """A writer crashing before the critical section leaves a _staged_*
    orphan: invisible to readers and version listings, reclaimed by the
    age-gated expire — the crash-invisibility contract, now at the
    staging layer."""
    import os as _os

    from semantic_index_spark.sources import versioned as VER

    t = str(tmp_path / "occ_crash")
    VER.commit_version(spark.range(4).withColumnRenamed("id", "x"), t)
    # simulate a crash mid-stage: data written, never published
    spark.range(9).withColumnRenamed("id", "x").write.parquet(
        _os.path.join(t, "_staged_deadbeef")
    )
    assert VER.current_version(t) == 0
    assert VER.read_version(spark, t).count() == 4
    assert VER.list_versions(t) == [0]
    # young staging is an in-flight commit — default TTL leaves it alone
    VER.expire_versions(t, keep_last=2)
    assert not _no_staged(t)
    # past the TTL it is reclaimed
    VER.expire_versions(t, keep_last=2, orphan_ttl_seconds=0.0)
    assert _no_staged(t)


def test_orc_roundtrip_aggregate_matches_parquet(spark, sf_dir):
    import pyspark.sql.functions as F

    import __spark_entry__ as entrymod

    got = entrymod.q_orc_roundtrip(spark, sf_dir)
    li = spark.read.parquet(sf_dir + "/lineitem.parquet")
    want = li.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(
            F.round(F.lit(100) * F.col("l_extendedprice")).cast("bigint")
        ).alias("price_cents"),
        F.sum("l_quantity").cast("bigint").alias("total_qty"),
        F.count_distinct("l_partkey").cast("bigint").alias("n_parts"),
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_merge_into_update_insert_delete(spark, tmp_path):
    from semantic_index_spark.sources import versioned as VER

    t = str(tmp_path / "merge_tbl")
    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id bigint, val string"
    )
    assert VER.create_bucketed(target, t, ["id"], n_buckets=4) == 0
    src = spark.createDataFrame(
        [(2, "B", "upsert"), (4, "D", "upsert"), (3, None, "delete"), (9, None, "delete")],
        "id bigint, val string, op string",
    )
    v = VER.merge_into_bucketed(spark, t, src, op_col="op")
    assert v == 1
    got = {r["id"]: r["val"] for r in VER.read_bucketed(spark, t).collect()}
    # 1 kept, 2 updated, 3 deleted, 4 inserted, delete-of-absent-9 no-op
    assert got == {1: "a", 2: "B", 4: "D"}
    # time travel: pre-merge state intact
    pre = {r["id"]: r["val"] for r in VER.read_bucketed(spark, t, 0).collect()}
    assert pre == {1: "a", 2: "b", 3: "c"}


def test_merge_into_rejects_duplicate_source_keys(spark, tmp_path):
    from semantic_index_spark.sources import versioned as VER

    t = str(tmp_path / "merge_dup")
    VER.create_bucketed(
        spark.createDataFrame([(1, "a")], "id bigint, val string"), t, ["id"], n_buckets=4
    )
    src = spark.createDataFrame([(1, "x"), (1, "y")], "id bigint, val string")
    with pytest.raises(ValueError, match="unique source keys"):
        VER.merge_into_bucketed(spark, t, src)


def test_merge_when_matched_delete_no_insert(spark, tmp_path):
    from semantic_index_spark.sources import versioned as VER

    t = str(tmp_path / "merge_del")
    VER.create_bucketed(
        spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, val string"),
        t, ["id"], n_buckets=4,
    )
    src = spark.createDataFrame([(1, "zzz"), (7, "zzz")], "id bigint, val string")
    VER.merge_into_bucketed(spark, t, src, when_matched="delete", insert_not_matched=False)
    got = {r["id"]: r["val"] for r in VER.read_bucketed(spark, t).collect()}
    assert got == {2: "b"}


def test_bucketed_merge_matches_plain_and_rewrites_only_touched_buckets(spark, tmp_path):
    import os as _os

    from semantic_index_spark.sources import versioned as VER

    tb = str(tmp_path / "bucketed")
    base = spark.range(0, 200).selectExpr("id", "cast(id * 7 as string) AS val")
    VER.create_bucketed(base, tb, ["id"], n_buckets=16)

    src = spark.createDataFrame(
        [(5, "UPD", "upsert"), (6, None, "delete"), (1005, "NEW", "upsert")],
        "id bigint, val string, op string",
    )
    v = VER.merge_into_bucketed(spark, tb, src, op_col="op")

    got_b = sorted((r["id"], r["val"]) for r in VER.read_bucketed(spark, tb).collect())
    # the plain (whole-table) MERGE result, written out
    plain = {i: str(i * 7) for i in range(200) if i != 6} | {5: "UPD", 1005: "NEW"}
    assert got_b == sorted(plain.items())
    assert len(got_b) == 200  # -1 delete +1 insert

    # incremental property: v=1 holds ONLY the <=3 buckets the source touched
    written = [
        d for d in _os.listdir(_os.path.join(tb, f"v={v}")) if d.startswith("__bucket=")
    ]
    assert 1 <= len(written) <= 3
    man = VER._read_manifest(tb)
    moved = [b for b, ver in man["buckets"].items() if ver == v]
    assert sorted(moved) == sorted(d.split("=", 1)[1] for d in written)
    # untouched buckets still owned by v0
    assert sum(1 for ver in man["buckets"].values() if ver == 0) == 16 - len(written)


def test_bucketed_point_lookup_prunes_buckets(spark, tmp_path):
    from semantic_index_spark.sources import versioned as VER

    tb = str(tmp_path / "bucketed_pt")
    base = spark.range(0, 100).selectExpr("id", "cast(id as string) AS val")
    VER.create_bucketed(base, tb, ["id"], n_buckets=8)
    got = VER.read_bucketed(spark, tb, key_values=[(42,)]).filter("id = 42").collect()
    assert len(got) == 1 and got[0]["val"] == "42"
    # the pruned scan reads fewer buckets than the full table
    full = VER.read_bucketed(spark, tb)
    pruned = VER.read_bucketed(spark, tb, key_values=[(42,)])
    assert pruned.count() < full.count()


def test_bucketed_merge_emptied_bucket_tombstones(spark, tmp_path):
    from semantic_index_spark.sources import versioned as VER

    tb = str(tmp_path / "bucketed_empty")
    one = spark.createDataFrame([(1, "a")], "id bigint, val string")
    VER.create_bucketed(one, tb, ["id"], n_buckets=4)
    src = spark.createDataFrame([(1, None, "delete")], "id bigint, val string, op string")
    VER.merge_into_bucketed(spark, tb, src, op_col="op")
    assert VER.read_bucketed(spark, tb).count() == 0


def test_expire_bucketed_keeps_live_bucket_owners(spark, tmp_path):
    from semantic_index_spark.sources import versioned as VER

    tb = str(tmp_path / "bucketed_exp")
    base = spark.range(0, 100).selectExpr("id", "cast(id as string) AS val")
    VER.create_bucketed(base, tb, ["id"], n_buckets=8)
    # three single-key merges: v1, v2, v3 each touch ~1 bucket; v0 still
    # owns most buckets and must survive any retention
    for i, key in enumerate([3, 4, 5]):
        src = spark.createDataFrame([(key, f"upd{i}")], "id bigint, val string")
        VER.merge_into_bucketed(spark, tb, src)
    reclaimed = VER.expire_bucketed(tb, keep_manifests=1)
    # v0 owns live buckets -> kept; v1/v2 reclaimable only if no latest-
    # manifest bucket points at them (keys 3/4/5 may share buckets)
    assert 0 not in reclaimed
    man = VER._read_manifest(tb)
    for v in reclaimed:
        assert all(int(x) != v for x in man["buckets"].values() if x is not None)
    # the table still reads completely and correctly
    got = {r["id"]: r["val"] for r in VER.read_bucketed(spark, tb).collect()}
    assert len(got) == 100 and got[3] == "upd0" and got[4] == "upd1" and got[5] == "upd2"


def test_diff_bucketed_reads_only_moved_buckets(spark, tmp_path):
    from semantic_index_spark.sources import versioned as VER

    tb = str(tmp_path / "cdf_tbl")
    base = spark.range(0, 60).selectExpr("id", "cast(id * 3 as string) AS val")
    VER.create_bucketed(base, tb, ["id"], n_buckets=8)
    src = spark.createDataFrame(
        [(7, "SEVEN", "upsert"), (8, None, "delete"), (1007, "NEW", "upsert")],
        "id bigint, val string, op string",
    )
    VER.merge_into_bucketed(spark, tb, src, op_col="op")
    got = {
        (r["id"], r["_action"]): (r["val_old"], r["val_new"])
        for r in VER.diff_bucketed(spark, tb, 0, 1).collect()
    }
    assert got == {
        (7, "updated"): ("21", "SEVEN"),
        (8, "deleted"): ("24", None),
        (1007, "inserted"): (None, "NEW"),
    }
    # empty diff between identical versions
    assert VER.diff_bucketed(spark, tb, 1, 1).count() == 0


def test_expire_bucketed_refuses_plain_tables(spark, tmp_path):
    from semantic_index_spark.sources import versioned as VER

    t = str(tmp_path / "plain_tbl")
    VER.commit_version(spark.createDataFrame([(1, "a")], "id bigint, val string"), t)
    with pytest.raises(ValueError, match="no bucket manifests"):
        VER.expire_bucketed(t)
    # nothing was deleted
    assert VER.read_version(spark, t).count() == 1


# ------------------------------------------------------- hidden partitioning


def _hidden_fixture(spark, tmp_path, spec):
    from semantic_index_spark.sources import hidden as H

    rows = [
        (i, f"2026-0{1 + i % 3}-{1 + i % 9:02d} 12:00:00", f"src{i % 5}", float(i))
        for i in range(200)
    ]
    df = (
        spark.createDataFrame(rows, "id bigint, ts string, source string, value double")
        .withColumn("ts", F.to_timestamp("ts"))
    )
    t = str(tmp_path / "hidden_tbl")
    H.create_hidden(df, t, spec)
    return H, df, t


def test_hidden_day_pruning_matches_unpruned(spark, tmp_path):
    # results must be identical with pruning on (filters=) and off
    # (read everything, filter after) — rewriting is IO-only
    H, df, t = _hidden_fixture(spark, tmp_path, [("day", "ts"), ("bucket", "id", 8)])
    filt = [("ts", ">=", "2026-02-01"), ("ts", "<", "2026-02-05")]
    pruned = H.read_hidden(spark, t, filters=filt)
    ref = df.filter((F.col("ts") >= "2026-02-01") & (F.col("ts") < "2026-02-05"))
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, ref.collect()))
    # hidden columns never reach the user
    assert pruned.columns == df.columns
    # plan-lock: the day rewrite must land on the PARTITION column
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "_p0" in plan.split("PartitionFilters", 1)[1][:300]


def test_hidden_bucket_equality_prunes_and_matches(spark, tmp_path):
    H, df, t = _hidden_fixture(spark, tmp_path, [("bucket", "id", 8)])
    pruned = H.read_hidden(spark, t, filters=[("id", "=", 17)])
    assert [r["id"] for r in pruned.collect()] == [17]
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "_p0" in plan.split("PartitionFilters", 1)[1][:300]
    # a range over bucket cannot prune (not order-preserving) but must
    # still return correct rows via the residual
    rng = H.read_hidden(spark, t, filters=[("id", ">=", 198)])
    assert sorted(r["id"] for r in rng.collect()) == [198, 199]


def test_hidden_in_and_truncate_rewrites(spark, tmp_path):
    H, df, t = _hidden_fixture(spark, tmp_path, [("truncate", "source", 4)])
    got = H.read_hidden(spark, t, filters=[("source", "in", ["src1", "src3"])])
    assert {r["source"] for r in got.collect()} == {"src1", "src3"}
    assert got.count() == 80


def test_hidden_time_travel_and_spec_is_fixed(spark, tmp_path):
    H, df, t = _hidden_fixture(spark, tmp_path, [("day", "ts")])
    v1 = H.commit_hidden(df.filter("id < 10"), t)
    assert v1 == 1
    assert H.read_hidden(spark, t).count() == 10
    assert H.read_hidden(spark, t, version=0).count() == 200
    with pytest.raises(FileExistsError):
        H.create_hidden(df, t, [("day", "ts")])


def test_hidden_bucket_literal_matches_spark_hash(spark, tmp_path):
    # the driver-side md5 bucket of a literal must agree with the
    # writer-side Spark expression for every id — otherwise pruning would
    # silently drop matching rows
    from semantic_index_spark.functions.text import md5_bigint
    from semantic_index_spark.sources import hidden as H

    df = spark.createDataFrame([(i,) for i in range(100)], "id bigint")
    spark_side = {
        r["id"]: r["b"]
        for r in df.select(
            "id",
            F.pmod(md5_bigint(F.col("id").cast("string"), salt="hpart:"), F.lit(8)).alias("b"),
        ).collect()
    }
    e = {"transform": "bucket", "col": "id", "arg": 8}
    for i in range(100):
        assert H._transform_literal(e, i) == spark_side[i]


def test_hidden_tz_is_pinned_and_mismatch_fails_fast(spark, tmp_path):
    # day/month partition dirs are rendered in the writer session's zone;
    # a reader (or later writer) under a different zone would prune the
    # wrong directories — it must fail fast, never silently drop rows
    import json as _json

    H, df, t = _hidden_fixture(spark, tmp_path, [("day", "ts")])
    with open(t + "/_hidden_spec.json") as fh:
        meta = _json.load(fh)
    assert meta["time_zone"] == spark.conf.get("spark.sql.session.timeZone")
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        with pytest.raises(ValueError, match="time zone"):
            H.read_hidden(spark, t, filters=[("ts", ">=", "2026-02-01")])
        with pytest.raises(ValueError, match="time zone"):
            H.commit_hidden(df, t)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    # back in the pinned zone everything works
    assert H.read_hidden(spark, t).count() == 200


def test_hidden_bucket_rejects_unsafe_types(spark, tmp_path):
    # bucket hashes Spark's cast-to-string writer-side but Python str()
    # reader-side; bool/double/decimal render differently, so bucket specs
    # on such columns are rejected at commit and such literals at read
    from semantic_index_spark.sources import hidden as H

    df = spark.createDataFrame(
        [(1, 1.5, True)], "id bigint, v double, flag boolean"
    )
    with pytest.raises(TypeError, match="bucket transform on column"):
        H.create_hidden(df, str(tmp_path / "h1"), [("bucket", "v", 4)])
    with pytest.raises(TypeError, match="bucket transform on column"):
        H.create_hidden(df, str(tmp_path / "h2"), [("bucket", "flag", 4)])
    with pytest.raises(TypeError, match="bucket transform literal"):
        H._transform_literal({"transform": "bucket", "col": "id", "arg": 4}, True)
    with pytest.raises(TypeError, match="bucket transform literal"):
        H._transform_literal({"transform": "bucket", "col": "id", "arg": 4}, 1.5)


# ---------------------------------------------------------- zone-map skipping


def test_zonemap_skipping_clustered_prunes_and_matches(spark, tmp_path):
    from semantic_index_spark.sources import skipping as Z

    rows = [(i, float(i), f"s{i % 7}") for i in range(1000)]
    df = spark.createDataFrame(rows, "id bigint, v double, tag string")
    t = str(tmp_path / "zm")
    n = Z.write_skipping(df, t, ["id", "v"], n_files=16, cluster_by="id")
    assert n == 16
    filt = [("id", ">=", 100), ("id", "<", 160)]
    # correctness: skipped read == full filter
    got = sorted(r["id"] for r in Z.read_skipping(spark, t, filt).collect())
    assert got == list(range(100, 160))
    # selectivity: a 6% range over a range-clustered layout touches few files
    assert len(Z.candidate_files(t, filt)) <= 3
    # empty-range: every file skipped, schema intact
    none = Z.read_skipping(spark, t, [("id", ">", 10_000)])
    assert none.count() == 0 and none.columns == df.columns
    assert Z.candidate_files(t, [("id", ">", 10_000)]) == []


def test_zonemap_skipping_unclustered_still_correct(spark, tmp_path):
    from semantic_index_spark.sources import skipping as Z

    rows = [(i, float(i)) for i in range(500)]
    df = spark.createDataFrame(rows, "id bigint, v double")
    t = str(tmp_path / "zm_rand")
    Z.write_skipping(df, t, ["id"], n_files=8)  # no clustering
    got = sorted(
        r["id"] for r in Z.read_skipping(spark, t, [("id", "in", [3, 77, 499])]).collect()
    )
    assert got == [3, 77, 499]
    # untracked column: no skipping evidence, but residual still filters
    got2 = Z.read_skipping(spark, t, [("v", "=", 42.0)]).collect()
    assert [r["id"] for r in got2] == [42]


def test_zonemap_skipping_bigint_beyond_float_precision(spark, tmp_path):
    # bounds beyond 2^53 are not float-representable: 2^53 and 2^53+1
    # collapse to the same double, so a float-coerced compare would
    # misclassify the boundary file. _coerce must compare ints exactly.
    from semantic_index_spark.sources import skipping as Z

    base = 2**53  # 9007199254740992
    rows = [(base + i,) for i in range(64)]
    df = spark.createDataFrame(rows, "id bigint")
    t = str(tmp_path / "zm_big")
    Z.write_skipping(df, t, ["id"], n_files=8, cluster_by="id")
    # point lookups at adjacent unrepresentable-as-float values
    for probe in (base, base + 1, base + 63):
        got = [r["id"] for r in Z.read_skipping(spark, t, [("id", "=", probe)]).collect()]
        assert got == [probe], probe
    # range straddling a file boundary
    filt = [("id", ">", base + 7), ("id", "<=", base + 9)]
    got = sorted(r["id"] for r in Z.read_skipping(spark, t, filt).collect())
    assert got == [base + 8, base + 9]
    # the exact-int compare really skips: a probe below the min matches 0 files
    assert Z.candidate_files(t, [("id", "=", base - 1)]) == []


def test_zonemap_skipping_timestamp_bounds(spark, tmp_path):
    from semantic_index_spark.sources import skipping as Z

    rows = [(i, f"2024-01-{1 + i % 28:02d} 06:00:00") for i in range(280)]
    df = spark.createDataFrame(rows, "id bigint, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    t = str(tmp_path / "zm_ts")
    Z.write_skipping(df, t, ["ts"], n_files=14, cluster_by="ts")
    filt = [("ts", ">=", "2024-01-10"), ("ts", "<", "2024-01-12")]
    got = Z.read_skipping(spark, t, filt)
    ref = df.filter((F.col("ts") >= "2024-01-10") & (F.col("ts") < "2024-01-12"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))
    assert len(Z.candidate_files(t, filt)) < 14


def test_ivm_maintain_group_agg_group_change_and_dropout(spark, tmp_path):
    # a MERGE that moves a row BETWEEN groups must retract from the old
    # group and add to the new; a group emptied by deletes must drop out
    from semantic_index_spark.sources import versioned as VER

    rows = [(1, "a", 10), (2, "a", 20), (3, "b", 30)]
    df = spark.createDataFrame(rows, "id bigint, grp string, val bigint")
    t = str(tmp_path / "ivm_tbl")
    VER.create_bucketed(df, t, ["id"], n_buckets=4)
    base = VER.read_bucketed(spark, t, version=0).groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("val").cast("bigint").alias("sum_value"),
    ).localCheckpoint(eager=True)
    src = spark.createDataFrame(
        # id=1 moves a->c with new value; id=3 deleted (empties group b)
        [(1, "c", 100, "upsert"), (3, "b", 0, "delete"), (4, "c", 7, "upsert")],
        "id bigint, grp string, val bigint, op string",
    )
    VER.merge_into_bucketed(spark, t, src, op_col="op")
    changes = VER.diff_bucketed(spark, t, 0, 1)
    got = {
        r["grp"]: (r["n_rows"], r["sum_value"])
        for r in VER.maintain_group_agg(base, changes, "grp", "val").collect()
    }
    ref = {
        r["grp"]: (r["n_rows"], r["sum_value"])
        for r in VER.read_bucketed(spark, t)
        .groupBy("grp")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("val").cast("bigint").alias("sum_value"),
        )
        .collect()
    }
    assert got == ref == {"a": (1, 20), "c": (2, 107)}  # b dropped out


def test_bloom_skipping_point_lookup_on_unclustered(spark, tmp_path):
    # zone maps cannot skip point lookups on an UNCLUSTERED column (every
    # file spans the domain) — the per-file bloom index can
    from semantic_index_spark.sources import skipping as Z

    rows = [(i, i * 31 % 997) for i in range(2000)]
    df = spark.createDataFrame(rows, "id bigint, code bigint")
    t = str(tmp_path / "zm_bloom")
    Z.write_skipping(
        df, t, ["id"], n_files=16, bloom_cols=["code"], bloom_m=1 << 14, bloom_k=4
    )
    # point lookup: correct rows, and far fewer than all 16 files scanned
    filt = [("code", "=", 42)]
    got = sorted(r["id"] for r in Z.read_skipping(spark, t, filt).collect())
    ref = sorted(r["id"] for r in df.filter("code = 42").collect())
    assert got == ref and len(got) >= 1
    assert len(Z.candidate_files(t, filt)) < 16
    # an absent key: definitely-absent in every file -> nothing scanned
    assert Z.candidate_files(t, [("code", "=", 123456789)]) == []
    assert Z.read_skipping(spark, t, [("code", "=", 123456789)]).count() == 0
    # IN probes each value; range ops never consult the bloom (no evidence)
    got_in = sorted(
        r["id"] for r in Z.read_skipping(spark, t, [("code", "in", [42, 123456789])]).collect()
    )
    assert got_in == ref
    assert len(Z.candidate_files(t, [("code", ">", 0)])) == 16


@pytest.fixture(scope="module")
def mixed_bloom_table(spark, tmp_path_factory):
    """40 rows, bloom bitmaps over a double, a double holding 1e20 and a
    boolean column: none of their Spark string renderings equals Python's
    ``str`` of the literal a caller filters with."""
    from semantic_index_spark.sources import skipping as Z

    df = spark.range(0, 40).selectExpr(
        "id",
        "CAST(id AS DOUBLE) AS x",
        "CASE WHEN id = 7 THEN 1e20 ELSE CAST(id AS DOUBLE) END AS big",
        "id % 2 = 0 AS flag",
    )
    t = str(tmp_path_factory.mktemp("bloom_mixed") / "t")
    Z.write_skipping(df, t, ["id"], n_files=4, bloom_cols=["x", "big", "flag"])
    return df, t


BLOOM_TYPE_CASES = [
    (("x", "=", 5), "x = 5", 1),
    (("big", "=", 1e20), "big = 1e20", 1),
    (("flag", "=", True), "flag = true", 20),
]


@pytest.mark.parametrize("filt,where,n", BLOOM_TYPE_CASES, ids=["double", "big_double", "boolean"])
def test_bloom_keeps_files_for_literals_spark_renders_differently(
    spark, mixed_bloom_table, filt, where, n
):
    # the bitmap hashed cast(col AS STRING) ('5.0', '1.0E20', 'true'); a
    # probe of str(literal) ('5', '1e+20', 'True') would rule out every file
    from semantic_index_spark.sources import skipping as Z

    df, t = mixed_bloom_table
    assert Z.read_skipping(spark, t, [filt]).count() == df.filter(where).count() == n
    assert len(Z.candidate_files(t, [filt])) == 4
    assert Z.read_skipping(spark, t, [(filt[0], "in", [filt[2]])]).count() == n


def test_bloom_sql_view_agrees_with_python_reader(spark, mixed_bloom_table):
    # the SQL reader plans the Python reader's candidate files and both
    # return the rows of the plain filter
    import os

    from pyspark.sql.datasource import EqualTo

    from semantic_index_spark.sources import skipping as Z
    from semantic_index_spark.sources import versioned_batch as VB

    df, t = mixed_bloom_table
    VB.sql_view(spark, "bloom_mixed_v", t)
    schema = spark.table("bloom_mixed_v").schema
    for filt, where, n in BLOOM_TYPE_CASES:
        sql_n = spark.sql(f"SELECT count(*) FROM bloom_mixed_v WHERE {where}").collect()[0][0]
        assert sql_n == Z.read_skipping(spark, t, [filt]).count() == n, where
        r = VB.VersionedTableReader(schema, t, None)
        r.pushFilters([EqualTo((filt[0],), filt[2])])
        planned = sorted(os.path.basename(p.path) for p in r.partitions() if p.path)
        assert planned == Z.candidate_files(t, [filt]), where
    spark.catalog.dropTempView("bloom_mixed_v")


def test_bloom_literal_positions_match_spark(spark):
    # the driver-side md5 position twin must agree with the JVM expression
    from semantic_index_spark.functions.bloom import _positions
    from semantic_index_spark.sources.skipping import _bloom_positions_literal

    df = spark.createDataFrame([(v,) for v in range(50)], "v bigint")
    jvm = {
        r["v"]: list(r["p"])
        for r in df.select("v", _positions("v", 1 << 14, 4).alias("p")).collect()
    }
    for v in range(50):
        assert _bloom_positions_literal(v, 1 << 14, 4) == jvm[v]


# ---------------------------------------------------------- deletion vectors


def test_deletion_vectors_basic_and_time_travel(spark, tmp_path):
    from semantic_index_spark.sources import versioned as VER

    df = spark.createDataFrame([(i, i * 10) for i in range(100)], "id bigint, val bigint")
    t = str(tmp_path / "dv_tbl")
    VER.create_bucketed(df, t, ["id"], n_buckets=8)
    v1 = VER.delete_bucketed(
        spark, t, spark.createDataFrame([(i,) for i in range(0, 100, 7)], "id bigint")
    )
    assert v1 == 1
    got = sorted(r["id"] for r in VER.read_bucketed(spark, t).collect())
    assert got == [i for i in range(100) if i % 7 != 0]
    # no data bucket was rewritten: every bucket still owned by v0
    man = VER._read_manifest(t)
    assert all(v == 0 for v in man["buckets"].values())
    assert man["dv"]  # DVs recorded
    # time travel: v0 sees everything
    assert VER.read_bucketed(spark, t, version=0).count() == 100
    # point lookup honors DVs
    assert VER.read_bucketed(spark, t, key_values=[(7,)]).filter("id = 7").count() == 0
    assert VER.read_bucketed(spark, t, key_values=[(8,)]).filter("id = 8").count() == 1


def test_deletion_vectors_fold_on_merge_and_cdf(spark, tmp_path):
    from semantic_index_spark.sources import versioned as VER

    df = spark.createDataFrame([(i, i * 10) for i in range(50)], "id bigint, val bigint")
    t = str(tmp_path / "dv_merge")
    VER.create_bucketed(df, t, ["id"], n_buckets=4)
    VER.delete_bucketed(spark, t, spark.createDataFrame([(3,), (4,)], "id bigint"))
    # CDF across the DV-only commit: exactly the two deletes
    d = VER.diff_bucketed(spark, t, 0, 1)
    assert sorted((r["id"], r["_action"]) for r in d.collect()) == [
        (3, "deleted"),
        (4, "deleted"),
    ]
    # a merge touching every bucket folds DVs into the rewrite and clears them
    src = spark.createDataFrame([(i, i * 10 + 1) for i in range(50)], "id bigint, val bigint")
    VER.merge_into_bucketed(spark, t, src.withColumn("op", F.lit("upsert")), op_col="op")
    man = VER._read_manifest(t)
    assert not man.get("dv")  # folded + cleared
    got = {r["id"]: r["val"] for r in VER.read_bucketed(spark, t).collect()}
    # upserts re-inserted 3 and 4 (they were deleted, then upserted anew)
    assert len(got) == 50 and got[3] == 31
    # a merge NOT touching a DV'd bucket keeps that DV live
    t2 = str(tmp_path / "dv_partial")
    VER.create_bucketed(df, t2, ["id"], n_buckets=4)
    VER.delete_bucketed(spark, t2, spark.createDataFrame([(3,)], "id bigint"))
    # single-key merge: only the bucket of id=17 rewrites
    VER.merge_into_bucketed(
        spark,
        t2,
        spark.createDataFrame([(17, 999, "upsert")], "id bigint, val bigint, op string"),
        op_col="op",
    )
    got2 = sorted(r["id"] for r in VER.read_bucketed(spark, t2).collect())
    assert 3 not in got2 and len(got2) == 49


def test_deletion_vectors_expire_keeps_dv_versions(spark, tmp_path):
    from semantic_index_spark.sources import versioned as VER

    df = spark.createDataFrame([(i, i) for i in range(40)], "id bigint, val bigint")
    t = str(tmp_path / "dv_expire")
    VER.create_bucketed(df, t, ["id"], n_buckets=2)
    VER.delete_bucketed(spark, t, spark.createDataFrame([(5,)], "id bigint"))  # v1 = DV only
    for k in (100, 101, 102):  # v2..v4 rewrite one bucket each
        VER.merge_into_bucketed(
            spark,
            t,
            spark.createDataFrame([(k, 0, "upsert")], "id bigint, val bigint, op string"),
            op_col="op",
        )
    reclaimed = VER.expire_bucketed(t, keep_manifests=2)
    # the DV version must survive IF any kept manifest still references it
    kept_mans = [VER._read_manifest(t, v) for v in (3, 4)]
    dv_versions = {int(x) for m in kept_mans for vs in m.get("dv", {}).values() for x in vs}
    assert all(v not in reclaimed for v in dv_versions)
    # and the table still reads correctly (5 deleted unless its bucket was rewritten)
    ids = {r["id"] for r in VER.read_bucketed(spark, t).collect()}
    assert 5 not in ids


def test_optimize_bucketed_folds_dvs_data_identical(spark, tmp_path):
    from semantic_index_spark.sources import versioned as VER

    df = spark.createDataFrame([(i, i * 2) for i in range(60)], "id bigint, val bigint")
    t = str(tmp_path / "opt_tbl")
    VER.create_bucketed(df, t, ["id"], n_buckets=4)
    VER.delete_bucketed(spark, t, spark.createDataFrame([(i,) for i in range(0, 60, 5)], "id bigint"))
    before = sorted(map(tuple, VER.read_bucketed(spark, t).collect()))
    v = VER.optimize_bucketed(spark, t)
    assert v == 2
    man = VER._read_manifest(t)
    assert not man.get("dv")  # folded + cleared
    after = sorted(map(tuple, VER.read_bucketed(spark, t).collect()))
    assert after == before  # logically bit-identical
    # time travel to the pre-optimize DV state still works
    assert sorted(map(tuple, VER.read_bucketed(spark, t, version=1).collect())) == before
    assert VER.read_bucketed(spark, t, version=0).count() == 60
    # idempotent: nothing left to optimize -> same version back
    assert VER.optimize_bucketed(spark, t) == 2


def test_append_skipping_matches_rebuild(spark, tmp_path):
    # appended files must skip exactly like originals: candidates stay
    # per-file, results equal a filter over the full union
    from semantic_index_spark.sources import skipping as Z

    base = spark.createDataFrame([(i, i * 31 % 997) for i in range(800)], "id bigint, code bigint")
    batch = spark.createDataFrame([(i, i * 31 % 997) for i in range(800, 1000)], "id bigint, code bigint")
    t = str(tmp_path / "zm_append")
    Z.write_skipping(base, t, ["id"], n_files=8, cluster_by="id",
                     bloom_cols=["code"], bloom_m=1 << 14, bloom_k=4)
    n_new = Z.append_skipping(batch, t, n_files=2, cluster_by="id")
    assert n_new == 2
    full = base.unionByName(batch)
    # range over the clustered column: correct + still selective
    filt = [("id", ">=", 850), ("id", "<", 900)]
    got = sorted(r["id"] for r in Z.read_skipping(spark, t, filt).collect())
    assert got == list(range(850, 900))
    assert len(Z.candidate_files(t, filt)) <= 2  # only new files match
    # bloom point lookup works across old AND new files
    v = 850 * 31 % 997
    got2 = sorted(r["id"] for r in Z.read_skipping(spark, t, [("code", "=", v)]).collect())
    ref2 = sorted(r["id"] for r in full.filter(F.col("code") == v).collect())
    assert got2 == ref2
    assert len(Z.candidate_files(t, [("code", "=", v)])) < 10


# ---------------------------------------------------------------------------
# Composed layout: hidden partitioning × zone-map file skipping
# ---------------------------------------------------------------------------


def _hidden_skipping_fixture(spark, tmp_path):
    from semantic_index_spark.sources import hidden as H

    # 8 distinct days, value monotone in id and clustered within each day:
    # day(ts) prunes DIRECTORIES, the per-file value ranges prune FILES
    # inside the surviving directories
    df = (
        spark.range(0, 2000)
        .select(
            F.col("id"),
            F.expr(
                "timestampadd(DAY, cast(id % 8 as int), timestamp'2026-03-01 06:00:00')"
            ).alias("ts"),
            F.col("id").cast("double").alias("value"),
            (F.col("id") % 5).cast("string").alias("tag"),
        )
    )
    t = str(tmp_path / "hidden_skip_tbl")
    H.create_hidden_skipping(
        df, t, [("day", "ts")], stats_cols=["value", "id"], n_files=16,
        cluster_by="value",
    )
    return H, df, t


def test_hidden_skipping_prunes_both_levels_and_matches(spark, tmp_path):
    H, df, t = _hidden_skipping_fixture(spark, tmp_path)
    all_files = H.candidate_files_hidden(t)
    dirs = lambda fs: {f.rsplit("/", 1)[0] for f in fs}
    n_dirs_all, n_files_all = len(dirs(all_files)), len(all_files)
    assert n_dirs_all == 8

    # (a) partition-source predicate alone prunes whole DIRECTORIES
    ts_filt = [("ts", ">=", "2026-03-03"), ("ts", "<", "2026-03-05")]
    keep_ts = H.candidate_files_hidden(t, ts_filt)
    # the strict < bound relaxes inclusively at directory level (the
    # boundary day COULD hold earlier rows; the residual restores
    # strictness), so 3 day-dirs survive out of 8
    assert len(dirs(keep_ts)) == 3 < n_dirs_all

    # (b) stats-column predicate alone prunes FILES, not directories:
    # value is clustered within every day, so each dir keeps a strict
    # subset of its files while every dir stays alive
    val_filt = [("value", "<", 400.0)]
    keep_val = H.candidate_files_hidden(t, val_filt)
    assert dirs(keep_val) == dirs(all_files)
    assert len(keep_val) < n_files_all

    # (c) composed: both prunings apply on one read
    both = ts_filt + val_filt
    keep_both = H.candidate_files_hidden(t, both)
    assert len(dirs(keep_both)) <= 3
    assert len(keep_both) < len(keep_ts)

    # pruning-independence at BOTH levels: each filtered read equals the
    # unfiltered read with the same predicates applied afterwards
    full = H.read_hidden_skipping(spark, t)
    assert full.columns == df.columns  # partition cols never surface
    for filt in (ts_filt, val_filt, both):
        got = H.read_hidden_skipping(spark, t, filt)
        exp = full
        for col, op, v in filt:
            c = F.col(col)
            exp = exp.filter({"=": c.__eq__, "<": c.__lt__, "<=": c.__le__,
                              ">": c.__gt__, ">=": c.__ge__}[op](v))
        assert got.exceptAll(exp).count() == 0
        assert exp.exceptAll(got).count() == 0
    # and the source-of-truth check against the original frame
    got = H.read_hidden_skipping(spark, t, both)
    ref = df.filter((F.col("ts") >= "2026-03-03") & (F.col("ts") < "2026-03-05")
                    & (F.col("value") < 400.0))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))


def test_hidden_skipping_empty_prune_and_in_op(spark, tmp_path):
    H, df, t = _hidden_skipping_fixture(spark, tmp_path)
    # predicate outside every zone: zero candidate files, empty result,
    # schema intact
    none = H.read_hidden_skipping(spark, t, [("value", ">", 1e9)])
    assert none.count() == 0 and none.columns == df.columns
    assert H.candidate_files_hidden(t, [("value", ">", 1e9)]) == []
    # IN on the partition source column prunes to exactly those days
    got = H.read_hidden_skipping(
        spark, t, [("id", "in", [3, 11, 1999])]
    )
    assert sorted(r["id"] for r in got.collect()) == [3, 11, 1999]


def test_hidden_skipping_commit_and_time_travel(spark, tmp_path):
    H, df, t = _hidden_skipping_fixture(spark, tmp_path)
    v1 = H.commit_hidden_skipping(df.filter("id < 100"), t)
    assert v1 == 1
    assert H.read_hidden_skipping(spark, t).count() == 100
    # old snapshot still reads with its own manifest
    assert H.read_hidden_skipping(spark, t, version=0).count() == 2000
    old = H.read_hidden_skipping(
        spark, t, [("value", "<", 400.0)], version=0
    )
    assert old.count() == 400
    # every committed version carries stats (manifest-before-pointer)
    import os as _os
    for v in (0, 1):
        assert _os.path.exists(H._zonemap_path(t, v))


def test_hidden_identity_prune_sound_on_nonint_columns(spark, tmp_path):
    # Identity partitions on NON-int columns must never be pruned by the
    # driver's lexicographic directory compare: Spark renders '10.5',
    # '1.0E20', timestamp strings — none order (or even equal) like
    # Python's str(). The sound contract: keep the directory, let the
    # residual filter. Int identity keeps pruning exactly.
    from semantic_index_spark.sources import hidden as H

    rows = [(i, float(v), i % 4) for i, v in enumerate([0.5, 9.5, 10.5, 1e20])]
    df = spark.createDataFrame(rows, "id bigint, dv double, iv bigint")
    t = str(tmp_path / "hidden_ident_dv")
    H.create_hidden_skipping(
        df, t, [("identity", "dv"), ("identity", "iv")], stats_cols=["id"],
        n_files=4,
    )
    dirs = lambda fs: {f.rsplit("/", 1)[0] for f in fs}
    # range on the double identity: '10.5' < '9.5' lexicographically, so a
    # string compare would prune the dv=10.5 and dv=1.0E20 directories; the
    # residual can't resurrect a pruned directory, so rows would be LOST
    got = sorted(
        r["dv"] for r in H.read_hidden_skipping(spark, t, [("dv", ">", 9.5)]).collect()
    )
    assert got == [10.5, 1e20]
    # equality across renderings: Python str(1e20)='1e+20', Spark '1.0E20'
    got = H.read_hidden_skipping(spark, t, [("dv", "=", 1e20)]).collect()
    assert [r["dv"] for r in got] == [1e20]
    # IN with a float member keeps every directory at the driver level
    got = sorted(
        r["dv"]
        for r in H.read_hidden_skipping(
            spark, t, [("dv", "in", [0.5, 1e20])]
        ).collect()
    )
    assert got == [0.5, 1e20]
    # double identity never prunes directories (unverifiable rendering)...
    assert dirs(H.candidate_files_hidden(t, [("dv", ">", 9.5)])) == dirs(
        H.candidate_files_hidden(t)
    )
    # ...while int identity on the SAME table still prunes exactly
    keep_iv = H.candidate_files_hidden(t, [("iv", "=", 2)])
    assert {d.split("/")[1] for d in dirs(keep_iv)} == {"_p1=2"}
    got = sorted(
        r["id"] for r in H.read_hidden_skipping(spark, t, [("iv", ">=", 2)]).collect()
    )
    assert got == [2, 3]
    # str-literal range against the int identity column compares
    # numerically, not lexicographically ('3' > '10' as strings)
    keep9 = H.candidate_files_hidden(t, [("iv", ">=", "3")])
    assert {d.split("/")[1] for d in dirs(keep9)} == {"_p1=3"}


def test_zorder_clustered_skipping_prunes_both_dimensions(spark, tmp_path):
    # Z-order clustering makes zone maps selective in EVERY keyed
    # dimension; 1-D clustering leaves the non-clustered column's
    # per-file ranges spanning the whole domain (no pruning)
    import random

    from semantic_index_spark.sources import skipping as Z
    from semantic_index_spark.sources.io import zorder_key

    rng = random.Random(5)
    rows = [(i, rng.randrange(0, 256), rng.uniform(0.0, 256.0)) for i in range(4000)]
    df = spark.createDataFrame(rows, "id bigint, x bigint, y double")
    tz = str(tmp_path / "zm_zorder")
    t1 = str(tmp_path / "zm_1d")
    Z.write_skipping(
        df, tz, ["x", "y"], n_files=16,
        cluster_by=zorder_key([("x", 0, 256), ("y", 0, 256)], bits=8),
    )
    Z.write_skipping(df, t1, ["x", "y"], n_files=16, cluster_by="x")
    fx = [("x", ">=", 64), ("x", "<", 96)]
    fy = [("y", ">=", 64.0), ("y", "<", 96.0)]
    # 1-D layout: clustered column prunes, the other cannot
    assert len(Z.candidate_files(t1, fx)) < 16
    assert len(Z.candidate_files(t1, fy)) == 16
    # Z-order layout: BOTH single-dimension slabs prune, the box prunes
    # at least as hard as either slab
    nx, ny = len(Z.candidate_files(tz, fx)), len(Z.candidate_files(tz, fy))
    assert nx < 16 and ny < 16
    nbox = len(Z.candidate_files(tz, fx + fy))
    assert nbox <= min(nx, ny)
    # pruning is IO-only: results equal the manual filter on the source
    got = Z.read_skipping(spark, tz, fx + fy)
    exp = df.filter("x >= 64 and x < 96 and y >= 64.0 and y < 96.0")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_hidden_identity_prune_string_digit_columns(spark, tmp_path):
    # r10 (ADVICE r9): a STRING identity column holding digit strings
    # renders int-parseable directories; pruning must follow the
    # residual's CODE-POINT order, not numeric order — '9' >= '10' is
    # TRUE under string semantics ('9' > '1'). With every directory
    # int-parseable, the old reader compared numerically at BOTH levels
    # (driver manifest int-parse; plan-path partition-type inference)
    # and silently lost rows. The recorded source dtype now dispatches.
    from semantic_index_spark.sources import hidden as H

    rows = [(1, "5"), (2, "9"), (3, "10")]
    df = spark.createDataFrame(rows, "id bigint, s string")
    t = str(tmp_path / "hidden_ident_str")
    H.create_hidden_skipping(df, t, [("identity", "s")], stats_cols=["id"], n_files=4)
    want = ["10", "5", "9"]  # all three satisfy s >= '10' lexicographically
    got = sorted(
        r["s"]
        for r in H.read_hidden_skipping(spark, t, [("s", ">=", "10")]).collect()
    )
    assert got == want
    # the plan path agrees: inference types _p0 as int here, so the range
    # push is suppressed and only the residual (string semantics) filters
    got = sorted(
        r["s"] for r in H.read_hidden(spark, t, [("s", ">=", "10")]).collect()
    )
    assert got == want
    # lexicographic pruning IS sound and selective when the dtype is known:
    # s < '6' matches '10' and '5'; the '9' directory is pruned
    dirs = lambda fs: {f.rsplit("/", 1)[0] for f in fs}
    keep = H.candidate_files_hidden(t, [("s", "<", "6")])
    assert {d.split("/")[0] for d in dirs(keep)} == {"_p0=10", "_p0=5"}
    got = sorted(
        r["s"] for r in H.read_hidden_skipping(spark, t, [("s", "<", "6")]).collect()
    )
    assert got == ["10", "5"]
    # equality prunes to the single matching directory
    keep = H.candidate_files_hidden(t, [("s", "=", "9")])
    assert {d.split("/")[0] for d in dirs(keep)} == {"_p0=9"}
    # an INT literal against the string column compares numerically in the
    # residual (cast through double), so numeric pruning applies
    got = sorted(
        r["s"] for r in H.read_hidden_skipping(spark, t, [("s", ">=", 6)]).collect()
    )
    assert got == ["10", "9"]
    keep = H.candidate_files_hidden(t, [("s", ">=", 6)])
    assert {d.split("/")[0] for d in dirs(keep)} == {"_p0=10", "_p0=9"}


def test_hidden_legacy_spec_without_dtype_keeps_ambiguous_dirs(spark, tmp_path):
    # pre-r10 tables recorded no source dtype: an int-parseable directory
    # is then ambiguous (int column => numeric residual, string column of
    # digit strings => lexicographic residual), so the reader must keep it
    # rather than guess — correctness over selectivity
    from semantic_index_spark.sources import hidden as H

    df = spark.createDataFrame([(1, "5"), (2, "9"), (3, "10")], "id bigint, s string")
    t = str(tmp_path / "hidden_legacy")
    H.create_hidden_skipping(df, t, [("identity", "s")], stats_cols=["id"], n_files=4)
    with open(H._hidden_spec_path(t)) as f:
        meta = json.load(f)
    for e in meta["spec"]:
        e.pop("dtype", None)  # simulate a pre-r10 spec
    with open(H._hidden_spec_path(t), "w") as f:
        json.dump(meta, f)
    # no directory is pruned for a str-literal range...
    assert H.candidate_files_hidden(t, [("s", ">=", "10")]) == H.candidate_files_hidden(t)
    # ...and results are correct at both levels (string semantics)
    for reader in (H.read_hidden_skipping, H.read_hidden):
        got = sorted(r["s"] for r in reader(spark, t, [("s", ">=", "10")]).collect())
        assert got == ["10", "5", "9"]


def test_pointer_lock_excludes_and_survives_dead_holder(tmp_path):
    # r10 (ADVICE r9): the commit lock is an flock on a persistent file —
    # no unlink-based stale breaking, so the break/re-acquire TOCTOU that
    # could admit two writers is structurally gone. The kernel releases a
    # dead holder's lock, which this test proves with a subprocess that
    # exits while holding it.
    import os
    import subprocess
    import sys
    import textwrap
    import time as _time

    from semantic_index_spark.sources import versioned as VER

    t = str(tmp_path / "tbl")
    os.makedirs(t)
    # mutual exclusion: a second acquirer times out while the lock is held
    with VER._pointer_lock(t):
        with pytest.raises(TimeoutError):
            with VER._pointer_lock(t, timeout=0.3):
                pass
    # release makes it immediately acquirable again
    with VER._pointer_lock(t, timeout=1.0):
        pass
    # dead holder: the subprocess flocks the file and exits WITHOUT
    # unlocking; the kernel releases it with the process
    lock_path = os.path.join(t, VER._LOCK)
    code = textwrap.dedent(
        f"""
        import fcntl, os
        fd = os.open({lock_path!r}, os.O_CREAT | os.O_RDWR)
        fcntl.flock(fd, fcntl.LOCK_EX)
        """
    )
    subprocess.run([sys.executable, "-c", code], check=True)
    t0 = _time.monotonic()
    with VER._pointer_lock(t, timeout=5.0):
        pass
    assert _time.monotonic() - t0 < 1.0


def test_merge_into_bucketed_schema_evolution(spark, tmp_path):
    # r10: the bucketed store widens INCREMENTALLY — only touched buckets
    # are rewritten; untouched buckets keep their old-schema files and
    # null-fill the added column at read time via the manifest schema
    from semantic_index_spark.sources import versioned as VER

    t = str(tmp_path / "evo_bucketed")
    n_buckets = 8
    base = spark.range(0, 80).selectExpr("id", "cast(id * 7 as string) AS val")
    VER.create_bucketed(base, t, ["id"], n_buckets=n_buckets)
    by_bucket = _ids_by_bucket(spark, n_buckets, 80)
    (b0, ids0) = sorted(by_bucket.items())[0]
    src = spark.createDataFrame(
        [(ids0[0], "UP", 7), (100_000, "NEW", 9)], "id bigint, val string, score int"
    )
    with pytest.raises(ValueError, match="schema_evolution=True"):
        VER.merge_into_bucketed(spark, t, src)
    VER.merge_into_bucketed(spark, t, src, schema_evolution=True)
    man = VER._read_manifest(t)
    assert [f["name"] for f in json.loads(man["schema"])["fields"]] == [
        "id", "val", "score",
    ]
    # untouched buckets were NOT rewritten (still owned by v0)
    touched = {int(b) for b, v in man["buckets"].items() if v == man["version"]}
    assert b0 in touched and len(touched) < n_buckets
    got = {r["id"]: (r["val"], r["score"]) for r in VER.read_bucketed(spark, t).collect()}
    assert got[ids0[0]] == ("UP", 7) and got[100_000] == ("NEW", 9)
    # every pre-merge row — rewritten bucket or untouched old-schema file —
    # surfaces NULL for the added column
    assert all(s is None for i, (_, s) in got.items() if i not in (ids0[0], 100_000))
    assert len(got) == 81
    # time travel reads v0 under its own (narrower) schema
    v0 = VER.read_bucketed(spark, t, version=0)
    assert v0.columns == ["id", "val"] and v0.count() == 80
    # CDF across the evolution reads both sides under the union schema
    d = VER.diff_bucketed(spark, t, 0, man["version"])
    acts = {r["id"]: r["_action"] for r in d.collect()}
    assert acts == {ids0[0]: "updated", 100_000: "inserted"}
    # point lookups (bucket prune + residual filter) and a later
    # non-evolving merge keep working on the widened table
    one = (
        VER.read_bucketed(spark, t, key_values=[(100_000,)])
        .filter("id = 100000")
        .collect()
    )
    assert [(r["id"], r["score"]) for r in one] == [(100_000, 9)]
    src2 = spark.createDataFrame([(ids0[0], "UP2", 8)], "id bigint, val string, score int")
    VER.merge_into_bucketed(spark, t, src2)
    got2 = (
        VER.read_bucketed(spark, t, key_values=[(ids0[0],)])
        .filter(F.col("id") == ids0[0])
        .collect()
    )
    assert [(r["val"], r["score"]) for r in got2] == [("UP2", 8)]


def test_bucketed_concurrent_evolutions_union_schemas(spark, tmp_path, monkeypatch):
    # r10: two schema-evolving merges racing on DISJOINT buckets both
    # land, and the rebased manifest records the UNION of the columns —
    # neither writer's addition is lost
    from semantic_index_spark.sources import versioned as VER

    t = str(tmp_path / "evo_occ")
    n_buckets = 8
    base = spark.range(0, 200).selectExpr("id", "cast(id * 7 as string) AS val")
    VER.create_bucketed(base, t, ["id"], n_buckets=n_buckets)
    by_bucket = _ids_by_bucket(spark, n_buckets, 200)
    (bA, idsA), (bB, idsB) = sorted(by_bucket.items())[:2]
    man0 = VER._read_manifest(t)
    srcB = spark.createDataFrame([(idsB[0], "B", 1)], "id bigint, val string, b_col int")
    VER.merge_into_bucketed(spark, t, srcB, schema_evolution=True)
    real_rm = VER._read_manifest

    def stale_rm(table, version=None):
        if version is None and table == t:
            return man0
        return real_rm(table, version)

    srcA = spark.createDataFrame([(idsA[0], "A", 2.5)], "id bigint, val string, a_col double")
    with monkeypatch.context() as m:
        m.setattr(VER, "_read_manifest", stale_rm)
        VER.merge_into_bucketed(spark, t, srcA, schema_evolution=True)
    man = VER._read_manifest(t)
    names = [f["name"] for f in json.loads(man["schema"])["fields"]]
    assert set(names) == {"id", "val", "a_col", "b_col"}
    got = {r["id"]: r for r in VER.read_bucketed(spark, t).collect()}
    assert got[idsA[0]]["a_col"] == 2.5 and got[idsA[0]]["b_col"] is None
    assert got[idsB[0]]["b_col"] == 1 and got[idsB[0]]["a_col"] is None
    assert len(got) == 200


def test_timestamp_time_travel(spark, tmp_path):
    # r10: TIMESTAMP AS OF — commit wall-times are side metadata (never in
    # any query output), resolved to a version driver-side
    import time as _time

    from semantic_index_spark.sources import versioned as VER

    t = str(tmp_path / "ts_travel")
    VER.commit_version(spark.createDataFrame([(1, "a")], "id bigint, v string"), t)
    _time.sleep(0.05)
    t_mid = _time.time()
    _time.sleep(0.05)
    VER.commit_version(spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string"), t)
    # between commits → the earlier version
    assert VER.resolve_as_of(t, t_mid) == 0
    assert VER.read_version(spark, t, as_of_ts=t_mid).count() == 1
    # after the latest → the latest
    assert VER.read_version(spark, t, as_of_ts=_time.time()).count() == 2
    # datetime and ISO-string forms resolve identically
    import datetime as _dt

    dt = _dt.datetime.fromtimestamp(t_mid)
    assert VER.resolve_as_of(t, dt) == 0
    assert VER.resolve_as_of(t, dt.isoformat()) == 0
    # before the first commit → error
    with pytest.raises(ValueError, match="precedes the first"):
        VER.resolve_as_of(t, t_mid - 3600)
    with pytest.raises(ValueError, match="not both"):
        VER.read_version(spark, t, version=0, as_of_ts=t_mid)
    # bucketed tables share the layout and the resolver
    tb = str(tmp_path / "ts_bucketed")
    VER.create_bucketed(
        spark.createDataFrame([(1, "a")], "id bigint, v string"), tb, ["id"], n_buckets=4
    )
    _time.sleep(0.05)
    b_mid = _time.time()
    _time.sleep(0.05)
    VER.merge_into_bucketed(
        spark, tb, spark.createDataFrame([(2, "b")], "id bigint, v string")
    )
    assert VER.read_bucketed(spark, tb, as_of_ts=b_mid).count() == 1
    assert VER.read_bucketed(spark, tb, as_of_ts=_time.time()).count() == 2


def test_null_count_zone_maps_prune_and_stay_correct(spark, tmp_path):
    # r10: per-file null counts (Delta nullCount stats) prune IS NULL /
    # IS NOT NULL — boundary cases: an all-null file skips for
    # IS NOT NULL and is kept for IS NULL; an all-non-null file skips for
    # IS NULL; a mixed file is kept for both. Results never depend on
    # pruning, and pre-null-count manifests stay readable (no pruning).
    from semantic_index_spark.sources import skipping as Z

    rows = (
        [(i, None) for i in range(10)]  # g-range 0..9: all null
        + [(i, i * 2) for i in range(10, 20)]  # 10..19: no null
        + [(i, i if i % 2 else None) for i in range(20, 30)]  # 20..29: mixed
    )
    df = spark.createDataFrame(rows, "id bigint, v bigint")
    t = str(tmp_path / "null_zm")
    Z.write_skipping(df, t, stats_cols=["id", "v"], n_files=3, cluster_by="id")
    every = Z.candidate_files(t)
    assert len(every) == 3
    keep_nn = Z.candidate_files(t, [("v", "is_not_null", None)])
    keep_nu = Z.candidate_files(t, [("v", "is_null", None)])
    assert len(keep_nn) == 2 and len(keep_nu) == 2  # each op skips one file
    assert set(keep_nn) | set(keep_nu) == set(every)
    got_nn = sorted(
        r["id"] for r in Z.read_skipping(spark, t, [("v", "is_not_null", None)]).collect()
    )
    assert got_nn == [i for i in range(10, 20)] + [i for i in range(20, 30) if i % 2]
    got_nu = sorted(
        r["id"] for r in Z.read_skipping(spark, t, [("v", "is_null", None)]).collect()
    )
    assert got_nu == list(range(10)) + [i for i in range(20, 30) if i % 2 == 0]
    # null ops compose with range ops on the same read
    got = sorted(
        r["id"]
        for r in Z.read_skipping(
            spark, t, [("v", "is_not_null", None), ("id", ">=", 25)]
        ).collect()
    )
    assert got == [25, 27, 29]
    # appended batches record null counts too: an all-null batch file
    # prunes for IS NOT NULL immediately
    batch = spark.createDataFrame([(100 + i, None) for i in range(5)], "id bigint, v bigint")
    assert Z.append_skipping(batch, t, n_files=1, cluster_by="id") == 1
    assert len(Z.candidate_files(t)) == 4
    assert len(Z.candidate_files(t, [("v", "is_not_null", None)])) == 2
    got_nu2 = sorted(
        r["id"] for r in Z.read_skipping(spark, t, [("v", "is_null", None)]).collect()
    )
    assert got_nu2 == got_nu + [100 + i for i in range(5)]
    # a legacy manifest (no nulls section) stays correct: IS NOT NULL can
    # still prune all-null files from their [null, null] min/max, but
    # IS NULL has no evidence and keeps every file
    with open(Z._manifest_path(t)) as f:
        man = json.load(f)
    man.pop("nulls")
    with open(Z._manifest_path(t), "w") as f:
        json.dump(man, f)
    assert len(Z.candidate_files(t, [("v", "is_not_null", None)])) == 2
    assert len(Z.candidate_files(t, [("v", "is_null", None)])) == 4
    got_legacy = sorted(
        r["id"] for r in Z.read_skipping(spark, t, [("v", "is_not_null", None)]).collect()
    )
    assert got_legacy == got_nn
    got_legacy_nu = sorted(
        r["id"] for r in Z.read_skipping(spark, t, [("v", "is_null", None)]).collect()
    )
    assert got_legacy_nu == got_nu2


def test_hidden_timestamp_time_travel(spark, tmp_path):
    # hidden-partitioned tables share the versioned commit-ts ledger
    import time as _time

    from semantic_index_spark.sources import hidden as H

    t = str(tmp_path / "hidden_ts")
    df1 = spark.createDataFrame([(1, 3)], "id bigint, b bigint")
    H.create_hidden(df1, t, [("identity", "b")])
    _time.sleep(0.05)
    mid = _time.time()
    _time.sleep(0.05)
    H.commit_hidden(
        spark.createDataFrame([(1, 3), (2, 4)], "id bigint, b bigint"), t
    )
    assert H.read_hidden(spark, t, as_of_ts=mid).count() == 1
    assert H.read_hidden(spark, t, as_of_ts=_time.time()).count() == 2
    with pytest.raises(ValueError, match="not both"):
        H.read_hidden(spark, t, version=0, as_of_ts=mid)


# ------------------------------------------------------- RESTORE / CLONE


def test_restore_version_plain_rolls_forward(spark, tmp_path):
    """RESTORE publishes a NEW version with the target snapshot's content;
    history stays readable and the links are metadata-cost."""
    import os

    from semantic_index_spark.sources import versioned as VER

    table = str(tmp_path / "vt")
    for n in [3, 5, 7]:
        VER.commit_version(spark.range(n).withColumnRenamed("id", "x"), table)
    v = VER.restore_version(table, 0)
    assert v == 3 and VER.current_version(table) == 3
    assert VER.read_version(spark, table).count() == 3          # rolled back
    assert VER.read_version(spark, table, 2).count() == 7       # history intact
    # hardlinked, not copied: data files in v=3 share inodes with v=0
    v3 = os.path.join(table, "v=3")
    linked = [
        f for f in os.listdir(v3)
        if f.endswith(".parquet") and os.stat(os.path.join(v3, f)).st_nlink >= 2
    ]
    assert linked  # at least the data files are links
    # expiring the original snapshot cannot strand the restore
    VER.expire_versions(table, keep_last=1)
    assert VER.read_version(spark, table).count() == 3


def test_restore_version_missing_target_raises(spark, tmp_path):
    from semantic_index_spark.sources import versioned as VER

    table = str(tmp_path / "vt")
    VER.commit_version(spark.range(2).withColumnRenamed("id", "x"), table)
    with pytest.raises(FileNotFoundError):
        VER.restore_version(table, 9)


def test_restore_bucketed_is_metadata_only(spark, tmp_path):
    """Bucketed RESTORE moves no data: the new manifest points at the old
    version's buckets and DV lists; diff shows the rollback as a feed."""
    import os

    from semantic_index_spark.sources import versioned as VER

    tb = str(tmp_path / "bt")
    base = spark.createDataFrame(
        [(i, f"u{i}", 10 * i) for i in range(8)], "id long, name string, score long"
    )
    VER.create_bucketed(base, tb, ["id"], n_buckets=4)
    src = spark.createDataFrame(
        [(1, "u1x", 111), (99, "new", 990)], "id long, name string, score long"
    )
    VER.merge_into_bucketed(spark, tb, src)                      # v1: update+insert
    VER.delete_bucketed(spark, tb, spark.createDataFrame([(2,)], "id long"))  # v2: DV
    assert VER.read_bucketed(spark, tb).count() == 8  # 8 +1 -1
    v = VER.restore_bucketed(tb, 0)
    assert v == 3
    got = sorted(r["id"] for r in VER.read_bucketed(spark, tb).collect())
    assert got == list(range(8))                                 # exact v0 content
    rows = {r["id"]: r for r in VER.read_bucketed(spark, tb).collect()}
    assert rows[1]["name"] == "u1" and rows[1]["score"] == 10
    # metadata-only: the restore's v-dir holds no bucket data at all
    assert not any(
        d.startswith("__bucket=") for d in os.listdir(os.path.join(tb, "v=3"))
    )
    # CDF of the rollback: the merge-era rows revert
    actions = {
        (r["id"], r["_action"]) for r in VER.diff_bucketed(spark, tb, 2, 3).collect()
    }
    assert (99, "deleted") in actions and (1, "updated") in actions
    assert (2, "inserted") in actions  # the DV'd row comes back
    # retention keeps everything the restore manifest references
    VER.expire_bucketed(tb, keep_manifests=1)
    got = sorted(r["id"] for r in VER.read_bucketed(spark, tb).collect())
    assert got == list(range(8))


def test_clone_table_plain_is_independent(spark, tmp_path):
    from semantic_index_spark.sources import versioned as VER

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    VER.commit_version(spark.range(4).withColumnRenamed("id", "x"), src)
    VER.commit_version(spark.range(6).withColumnRenamed("id", "x"), src)
    assert VER.clone_table(src, dst) == 0
    assert VER.read_version(spark, dst).count() == 6
    # historical clone
    dst0 = str(tmp_path / "dst0")
    VER.clone_table(src, dst0, version=0)
    assert VER.read_version(spark, dst0).count() == 4
    # independence both ways: write src, expire dst's source — no bleed
    VER.commit_version(spark.range(9).withColumnRenamed("id", "x"), src)
    assert VER.read_version(spark, dst).count() == 6
    VER.expire_versions(src, keep_last=1)
    assert VER.read_version(spark, dst).count() == 6
    VER.commit_version(spark.range(1).withColumnRenamed("id", "x"), dst)
    assert VER.read_version(spark, src).count() == 9
    with pytest.raises(FileExistsError):
        VER.clone_table(src, dst)


def test_clone_table_bucketed_consolidates_buckets_and_dvs(spark, tmp_path):
    from semantic_index_spark.sources import versioned as VER

    src = str(tmp_path / "bsrc")
    dst = str(tmp_path / "bdst")
    base = spark.createDataFrame(
        [(i, 10 * i) for i in range(8)], "id long, score long"
    )
    VER.create_bucketed(base, src, ["id"], n_buckets=4)
    VER.merge_into_bucketed(
        spark, src, spark.createDataFrame([(1, 111), (99, 990)], "id long, score long")
    )
    VER.delete_bucketed(spark, src, spark.createDataFrame([(2,)], "id long"))
    want = sorted((r["id"], r["score"]) for r in VER.read_bucketed(spark, src).collect())
    VER.clone_table(src, dst)
    got = sorted((r["id"], r["score"]) for r in VER.read_bucketed(spark, dst).collect())
    assert got == want
    # clone keeps working after the source expires its history
    VER.merge_into_bucketed(
        spark, src, spark.createDataFrame([(0, -1)], "id long, score long")
    )
    VER.expire_bucketed(src, keep_manifests=1)
    got = sorted((r["id"], r["score"]) for r in VER.read_bucketed(spark, dst).collect())
    assert got == want


def test_clone_table_hidden_carries_spec(spark, tmp_path):
    from semantic_index_spark.sources import hidden as HID
    from semantic_index_spark.sources import versioned as VER

    src = str(tmp_path / "hsrc")
    dst = str(tmp_path / "hdst")
    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(12)], "id long, src string"
    )
    HID.create_hidden(df, src, [("identity", "src")])
    VER.clone_table(src, dst)
    got = sorted(r["id"] for r in HID.read_hidden(spark, dst, [("src", "=", "s1")]).collect())
    want = sorted(r["id"] for r in HID.read_hidden(spark, src, [("src", "=", "s1")]).collect())
    assert got == want and got == [1, 4, 7, 10]


# ---------------------------------------------------------- CHECK constraints


def _cons_base(spark):
    return spark.createDataFrame(
        [(i, 10 * i) for i in range(1, 9)], "id long, score long"
    )


def test_check_constraints_enforced_on_create_and_merge(spark, tmp_path):
    from semantic_index_spark.sources import versioned as VER

    tb = str(tmp_path / "ct")
    with pytest.raises(VER.ConstraintViolationError, match="pos_score"):
        VER.create_bucketed(
            spark.createDataFrame([(1, -5)], "id long, score long"),
            tb + "_bad", ["id"], n_buckets=4,
            constraints={"pos_score": "score > 0"},
        )
    VER.create_bucketed(
        _cons_base(spark), tb, ["id"], n_buckets=4,
        constraints={"pos_score": "score > 0"},
    )
    # violating merge: rejected, nothing published
    with pytest.raises(VER.ConstraintViolationError, match="pos_score"):
        VER.merge_into_bucketed(
            spark, tb, spark.createDataFrame([(1, -1)], "id long, score long")
        )
    assert VER.current_version(tb) == 0
    # valid merge passes AND the constraint persists to later commits
    VER.merge_into_bucketed(
        spark, tb, spark.createDataFrame([(1, 999)], "id long, score long")
    )
    with pytest.raises(VER.ConstraintViolationError):
        VER.merge_into_bucketed(
            spark, tb, spark.createDataFrame([(2, 0)], "id long, score long")
        )
    # NULL passes (CHECK semantics: only FALSE violates)
    VER.merge_into_bucketed(
        spark, tb, spark.createDataFrame([(3, None)], "id long, score long")
    )
    rows = {r["id"]: r["score"] for r in VER.read_bucketed(spark, tb).collect()}
    assert rows[1] == 999 and rows[3] is None


def test_add_constraint_validates_table_and_drop_releases(spark, tmp_path):
    from semantic_index_spark.sources import versioned as VER

    tb = str(tmp_path / "ct2")
    VER.create_bucketed(_cons_base(spark), tb, ["id"], n_buckets=4)
    # existing data violates -> rejected, no metadata commit
    with pytest.raises(VER.ConstraintViolationError):
        VER.add_constraint(spark, tb, "big", "score >= 20")
    assert VER.current_version(tb) == 0
    v = VER.add_constraint(spark, tb, "pos", "score > 0")
    assert v == 1
    with pytest.raises(ValueError, match="already exists"):
        VER.add_constraint(spark, tb, "pos", "score > 0")
    with pytest.raises(VER.ConstraintViolationError):
        VER.merge_into_bucketed(
            spark, tb, spark.createDataFrame([(1, -1)], "id long, score long")
        )
    VER.drop_constraint(tb, "pos")
    VER.merge_into_bucketed(
        spark, tb, spark.createDataFrame([(1, -1)], "id long, score long")
    )
    assert {r["score"] for r in VER.read_bucketed(spark, tb).filter("id = 1").collect()} == {-1}
    with pytest.raises(ValueError, match="does not exist"):
        VER.drop_constraint(tb, "pos")


def test_constraints_survive_restore_and_clone(spark, tmp_path):
    from semantic_index_spark.sources import versioned as VER

    tb = str(tmp_path / "ct3")
    VER.create_bucketed(
        _cons_base(spark), tb, ["id"], n_buckets=4,
        constraints={"pos": "score > 0"},
    )
    VER.merge_into_bucketed(
        spark, tb, spark.createDataFrame([(1, 5)], "id long, score long")
    )
    VER.restore_bucketed(tb, 0)
    with pytest.raises(VER.ConstraintViolationError):
        VER.merge_into_bucketed(
            spark, tb, spark.createDataFrame([(1, -1)], "id long, score long")
        )
    clone = str(tmp_path / "ct3_clone")
    VER.clone_table(tb, clone)
    with pytest.raises(VER.ConstraintViolationError):
        VER.merge_into_bucketed(
            spark, clone, spark.createDataFrame([(1, -1)], "id long, score long")
        )


def test_clone_and_restore_hidden_skipping_keep_zonemaps(spark, tmp_path):
    """Clone/restore of a hidden-SKIPPING table stays self-contained: the
    per-version `_zonemaps.json` travels with the hardlinked v-dir
    (relative paths), the spec side file carries the skipping config, and
    pruned reads on the clone match the source."""
    from semantic_index_spark.sources import hidden as HID
    from semantic_index_spark.sources import versioned as VER

    src = str(tmp_path / "hs_src")
    dst = str(tmp_path / "hs_dst")
    df = spark.createDataFrame(
        [(i, f"s{i % 2}", float(i)) for i in range(40)],
        "id long, src string, val double",
    )
    HID.create_hidden_skipping(
        df, src, [("identity", "src")], stats_cols=["val"], n_files=4,
        cluster_by="val",
    )
    VER.clone_table(src, dst)
    preds = [("src", "=", "s1"), ("val", ">=", 30.0)]
    want = sorted(r["id"] for r in HID.read_hidden_skipping(spark, src, preds).collect())
    got = sorted(r["id"] for r in HID.read_hidden_skipping(spark, dst, preds).collect())
    assert got == want and want == [31, 33, 35, 37, 39]
    # restore on the hidden layout: commit a second version, roll back
    HID.commit_hidden(df.filter("id < 10"), src)
    VER.restore_version(src, 0)
    got = sorted(r["id"] for r in HID.read_hidden_skipping(spark, src, preds).collect())
    assert got == want


def test_generated_columns_computed_validated_and_inherited(spark, tmp_path):
    """Delta generated-column semantics: omitted -> computed, provided ->
    must match (violation, never silent overwrite); the definition rides
    the manifest through later merges."""
    from semantic_index_spark.sources import versioned as VER

    tb = str(tmp_path / "gt")
    df = spark.createDataFrame([(1, 10), (2, 20)], "id long, cents long")
    VER.create_bucketed(
        df, tb, ["id"], n_buckets=4, generated={"dollars": "cents div 100"}
    )
    rows = {r["id"]: r["dollars"] for r in VER.read_bucketed(spark, tb).collect()}
    assert rows == {1: 0, 2: 0}
    # merge OMITS the generated column -> computed
    VER.merge_into_bucketed(
        spark, tb, spark.createDataFrame([(3, 250)], "id long, cents long")
    )
    assert VER.read_bucketed(spark, tb).filter("id = 3").collect()[0]["dollars"] == 2
    # merge PROVIDES a mismatching value -> rejected
    with pytest.raises(VER.ConstraintViolationError, match="generated column"):
        VER.merge_into_bucketed(
            spark, tb,
            spark.createDataFrame([(4, 100, 9)], "id long, cents long, dollars long"),
        )
    # providing the CORRECT generated value passes
    VER.merge_into_bucketed(
        spark, tb,
        spark.createDataFrame([(4, 100, 1)], "id long, cents long, dollars long"),
    )
    assert VER.read_bucketed(spark, tb).count() == 4


def test_drop_column_is_metadata_only_and_time_travel_sees_it(spark, tmp_path):
    import os

    from semantic_index_spark.sources import versioned as VER

    tb = str(tmp_path / "dt")
    VER.create_bucketed(
        spark.createDataFrame([(1, 10, "a"), (2, 20, "b")], "id long, cents long, tag string"),
        tb, ["id"], n_buckets=2,
    )
    v = VER.drop_column(tb, "tag")
    assert v == 1
    assert VER.read_bucketed(spark, tb).columns == ["id", "cents"]
    # metadata-only: no bucket data under the drop's v-dir
    assert not any(d.startswith("__bucket=") for d in os.listdir(os.path.join(tb, "v=1")))
    # time travel still sees the column; RESTORE resurrects it
    assert VER.read_bucketed(spark, tb, version=0).columns == ["id", "cents", "tag"]
    VER.restore_bucketed(tb, 0)
    assert "tag" in VER.read_bucketed(spark, tb).columns
    # guards
    VER.drop_column(tb, "tag")
    with pytest.raises(ValueError, match="does not exist"):
        VER.drop_column(tb, "tag")
    with pytest.raises(ValueError, match="key column"):
        VER.drop_column(tb, "id")
    # merges after the drop work narrow; old files' extra bytes project away
    VER.merge_into_bucketed(
        spark, tb, spark.createDataFrame([(3, 30)], "id long, cents long")
    )
    got = sorted((r["id"], r["cents"]) for r in VER.read_bucketed(spark, tb).collect())
    assert got == [(1, 10), (2, 20), (3, 30)]


def test_drop_column_blocked_by_constraint_reference(spark, tmp_path):
    from semantic_index_spark.sources import versioned as VER

    tb = str(tmp_path / "dt2")
    VER.create_bucketed(
        spark.createDataFrame([(1, 10)], "id long, cents long"),
        tb, ["id"], n_buckets=2, constraints={"pos": "cents > 0"},
    )
    with pytest.raises(ValueError, match="referenced by constraint"):
        VER.drop_column(tb, "cents")
    VER.drop_constraint(tb, "pos")
    VER.drop_column(tb, "cents")
    assert VER.read_bucketed(spark, tb).columns == ["id"]


def test_drop_and_rename_guard_matches_identifier_tokens(spark, tmp_path):
    """A constraint that reads ``aa`` does not pin column ``a``: the
    drop/rename guard matches whole identifiers, not substrings."""
    from semantic_index_spark.sources import versioned as VER

    tb = str(tmp_path / "tok")
    VER.create_bucketed(
        spark.createDataFrame([(1, 2, 3)], "id long, a long, aa long"),
        tb, ["id"], n_buckets=2, constraints={"aa_pos": "aa > 0"},
    )
    VER.rename_column(tb, "a", "b")
    VER.drop_column(tb, "b")
    assert VER.read_bucketed(spark, tb).columns == ["id", "aa"]
    for refuse in (lambda: VER.drop_column(tb, "aa"),
                   lambda: VER.rename_column(tb, "aa", "c")):
        with pytest.raises(ValueError, match="referenced by constraint 'aa_pos'"):
            refuse()


def test_table_metadata_survives_dv_delete_and_optimize(spark, tmp_path):
    """Regression: a DV-only delete (which builds its manifest explicitly)
    must inherit constraints/generated metadata, not shed it."""
    from semantic_index_spark.sources import versioned as VER

    tb = str(tmp_path / "mt")
    VER.create_bucketed(
        spark.createDataFrame([(1, 10), (2, 20)], "id long, cents long"),
        tb, ["id"], n_buckets=2,
        constraints={"pos": "cents > 0"},
        generated={"dollars": "cents div 100"},
    )
    VER.delete_bucketed(spark, tb, spark.createDataFrame([(2,)], "id long"))
    with pytest.raises(VER.ConstraintViolationError):
        VER.merge_into_bucketed(
            spark, tb, spark.createDataFrame([(3, -1)], "id long, cents long")
        )
    VER.optimize_bucketed(spark, tb)
    with pytest.raises(VER.ConstraintViolationError):
        VER.merge_into_bucketed(
            spark, tb, spark.createDataFrame([(3, -1)], "id long, cents long")
        )
    # generated definition also survived: omitted column still computed
    VER.merge_into_bucketed(
        spark, tb, spark.createDataFrame([(3, 300)], "id long, cents long")
    )
    assert VER.read_bucketed(spark, tb).filter("id = 3").collect()[0]["dollars"] == 3


def test_rename_column_metadata_only_end_to_end(spark, tmp_path):
    """RENAME via column mapping: zero data movement, old files served
    under the new logical name, merges/DVs/time-travel/point-lookups all
    work across the rename — including on a KEY column."""
    import os

    from semantic_index_spark.sources import versioned as VER

    tb = str(tmp_path / "rt")
    VER.create_bucketed(
        spark.createDataFrame(
            [(i, 10 * i, f"u{i}") for i in range(8)],
            "id long, cents long, name string",
        ),
        tb, ["id"], n_buckets=4,
    )
    v = VER.rename_column(tb, "cents", "pennies")
    assert v == 1
    assert VER.read_bucketed(spark, tb).columns == ["id", "pennies", "name"]
    # metadata-only commit
    assert not any(d.startswith("__bucket=") for d in os.listdir(os.path.join(tb, "v=1")))
    # old files (physical name `cents`) serve values under the new name
    assert VER.read_bucketed(spark, tb).filter("id = 3").collect()[0]["pennies"] == 30
    # time travel shows the pre-rename logical name
    assert VER.read_bucketed(spark, tb, version=0).columns == ["id", "cents", "name"]
    # merges AFTER the rename use the new name; untouched old files still read
    VER.merge_into_bucketed(
        spark, tb,
        spark.createDataFrame([(3, 999, "u3x")], "id long, pennies long, name string"),
    )
    rows = {r["id"]: r["pennies"] for r in VER.read_bucketed(spark, tb).collect()}
    assert rows[3] == 999 and rows[5] == 50
    # DV delete post-rename applies to pre-rename data files
    VER.delete_bucketed(spark, tb, spark.createDataFrame([(5,)], "id long"))
    assert VER.read_bucketed(spark, tb).count() == 7
    # point lookup by key still prunes and matches
    got = VER.read_bucketed(spark, tb, key_values=[(3,)]).filter("id = 3").collect()
    assert got[0]["pennies"] == 999
    # key rename: bucket placement untouched, lookups work under new name
    VER.rename_column(tb, "id", "doc_id")
    assert VER.read_bucketed(spark, tb).columns == ["doc_id", "pennies", "name"]
    VER.merge_into_bucketed(
        spark, tb,
        spark.createDataFrame([(0, 1, "u0y")], "doc_id long, pennies long, name string"),
    )
    rows = {r["doc_id"]: r["pennies"] for r in VER.read_bucketed(spark, tb).collect()}
    assert rows[0] == 1 and rows[3] == 999 and 5 not in rows
    # DV written pre-key-rename still anti-joins (physical key names)
    assert VER.read_bucketed(spark, tb).count() == 7


def test_rename_column_diff_matches_by_physical_identity(spark, tmp_path):
    from semantic_index_spark.sources import versioned as VER

    tb = str(tmp_path / "rt2")
    VER.create_bucketed(
        spark.createDataFrame([(1, 10), (2, 20)], "id long, cents long"),
        tb, ["id"], n_buckets=2,
    )
    VER.rename_column(tb, "cents", "pennies")                      # v1
    VER.merge_into_bucketed(
        spark, tb, spark.createDataFrame([(1, 11)], "id long, pennies long")
    )                                                              # v2
    d = VER.diff_bucketed(spark, tb, 0, 2)
    assert set(d.columns) == {"id", "_action", "pennies_old", "pennies_new"}
    row = d.filter("id = 1").collect()[0]
    assert row["_action"] == "updated"
    assert row["pennies_old"] == 10 and row["pennies_new"] == 11


def test_rename_column_guards(spark, tmp_path):
    from semantic_index_spark.sources import versioned as VER

    tb = str(tmp_path / "rt3")
    VER.create_bucketed(
        spark.createDataFrame([(1, 10, "x")], "id long, cents long, tag string"),
        tb, ["id"], n_buckets=2, constraints={"pos": "cents > 0"},
    )
    with pytest.raises(ValueError, match="referenced by constraint"):
        VER.rename_column(tb, "cents", "pennies")
    with pytest.raises(ValueError, match="collides"):
        VER.rename_column(tb, "tag", "cents")
    VER.rename_column(tb, "tag", "label")
    # retired physical name cannot be re-introduced by rename or evolution
    with pytest.raises(ValueError, match="collides"):
        VER.rename_column(tb, "label", "tag")
    with pytest.raises(ValueError, match="PHYSICAL name"):
        VER.merge_into_bucketed(
            spark, tb,
            spark.createDataFrame(
                [(2, 20, "y", "zzz")], "id long, cents long, label string, tag string"
            ),
            schema_evolution=True,
        )


def test_rename_column_feed_and_clone_follow_mapping(spark, tmp_path):
    from semantic_index_spark.sources import versioned as VER

    tb = str(tmp_path / "rt4")
    VER.create_bucketed(
        spark.createDataFrame([(1, 10), (2, 20)], "id long, cents long"),
        tb, ["id"], n_buckets=2,
    )
    VER.rename_column(tb, "cents", "pennies")
    VER.merge_into_bucketed(
        spark, tb, spark.createDataFrame([(3, 30)], "id long, pennies long")
    )
    # clone carries the mapping: reads by new name, physical files linked
    clone = str(tmp_path / "rt4_clone")
    VER.clone_table(tb, clone)
    got = sorted((r["id"], r["pennies"]) for r in VER.read_bucketed(spark, clone).collect())
    assert got == [(1, 10), (2, 20), (3, 30)]
    # streaming feed: pre- and post-rename files both emit under the
    # CURRENT logical name
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    from tests.test_streaming import _drain_feed

    _drain_feed(spark, tb, sink, ckpt)
    out = spark.read.parquet(sink)
    assert "pennies" in out.columns
    v0 = {(r["id"], r["pennies"]) for r in out.filter("_version = 0").collect()}
    assert v0 == {(1, 10), (2, 20)}


def test_optimize_zorder_sorts_rewritten_buckets(spark, tmp_path):
    """OPTIMIZE ZORDER: bit-identical logical table, and the rewritten
    files hold rows in Morton-key order (the row-group skipping lever)."""
    from semantic_index_spark.sources import versioned as VER
    from semantic_index_spark.sources.io import zorder_key

    tb = str(tmp_path / "zt")
    rows = [(i, float(i % 10), float((i * 7) % 10)) for i in range(200)]
    VER.create_bucketed(
        spark.createDataFrame(rows, "id long, x double, y double"),
        tb, ["id"], n_buckets=2,
    )
    VER.delete_bucketed(spark, tb, spark.createDataFrame([(7,), (8,)], "id long"))
    before = sorted(map(tuple, VER.read_bucketed(spark, tb).collect()))
    v = VER.optimize_bucketed(
        spark, tb, buckets=[0, 1], zorder_by=[("x", 0.0, 10.0), ("y", 0.0, 10.0)]
    )
    after = sorted(map(tuple, VER.read_bucketed(spark, tb).collect()))
    assert after == before  # logical table untouched
    # each rewritten file is in z-key order (parquet preserves row order)
    import os

    import pyspark.sql.functions as F

    for b in (0, 1):
        bdir = os.path.join(tb, f"v={v}", f"__bucket={b}")
        files = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
        assert files
        for f in files:
            zk = [
                r["zk"]
                for r in spark.read.parquet(os.path.join(bdir, f))
                .select(zorder_key([("x", 0.0, 10.0), ("y", 0.0, 10.0)]).alias("zk"))
                .collect()
            ]
            assert zk == sorted(zk) and len(zk) > 1


def test_concurrent_writers_stress_disjoint_keys(spark, tmp_path):
    """Multi-writer OCC under real thread concurrency: 4 writers x 3
    merges each on writer-private keys (mixture of rebases and
    conflict-retries), one concurrent DV-deleting writer. The final state
    is deterministic (keys are writer-private, per-writer order is
    sequential) and every commit must land exactly once."""
    import threading

    from semantic_index_spark.sources import versioned as VER

    tb = str(tmp_path / "st")
    VER.create_bucketed(
        spark.createDataFrame([(i, 0) for i in range(4)], "id long, val long"),
        tb, ["id"], n_buckets=8,
    )
    errs = []

    def writer(t):
        try:
            for i in range(3):
                VER.retry_commit(
                    lambda: VER.merge_into_bucketed(
                        spark, tb,
                        spark.createDataFrame([(100 + t, 10 * t + i)], "id long, val long"),
                    ),
                    attempts=20,
                )
        except Exception as e:  # surfaced after join
            errs.append(e)

    def deleter():
        try:
            VER.retry_commit(
                lambda: VER.delete_bucketed(
                    spark, tb, spark.createDataFrame([(2,)], "id long")
                ),
                attempts=20,
            )
        except Exception as e:
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(4)]
    threads.append(threading.Thread(target=deleter))
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    # 13 commits landed: create + 12 merges + 1 delete
    assert VER.current_version(tb) == 13
    rows = {r["id"]: r["val"] for r in VER.read_bucketed(spark, tb).collect()}
    # writer t's last merge wins its private key; base keys intact minus DV
    for t in range(4):
        assert rows[100 + t] == 10 * t + 2
    assert 2 not in rows and rows[0] == 0 and rows[3] == 0


def test_dropped_column_name_cannot_resurrect(spark, tmp_path):
    """Soundness: untouched buckets' files still hold a dropped column's
    bytes, so re-introducing its name (via evolution OR rename) would
    resurrect deleted data on manifest-schema reads — the retired-name
    tombstone refuses both, and survives later commits."""
    from semantic_index_spark.sources import versioned as VER

    tb = str(tmp_path / "rz")
    VER.create_bucketed(
        spark.createDataFrame(
            [(i, 10 * i, f"secret{i}") for i in range(8)],
            "id long, cents long, tag string",
        ),
        tb, ["id"], n_buckets=4,
    )
    VER.drop_column(tb, "tag")
    with pytest.raises(ValueError, match="renamed or dropped"):
        VER.merge_into_bucketed(
            spark, tb,
            spark.createDataFrame(
                [(1, 11, "new")], "id long, cents long, tag string"
            ),
            schema_evolution=True,
        )
    with pytest.raises(ValueError, match="retired"):
        VER.rename_column(tb, "cents", "tag")
    # the tombstone rides later commits (merge, DV delete)
    VER.merge_into_bucketed(
        spark, tb, spark.createDataFrame([(1, 11)], "id long, cents long")
    )
    VER.delete_bucketed(spark, tb, spark.createDataFrame([(2,)], "id long"))
    with pytest.raises(ValueError, match="renamed or dropped"):
        VER.merge_into_bucketed(
            spark, tb,
            spark.createDataFrame(
                [(3, 33, "x")], "id long, cents long, tag string"
            ),
            schema_evolution=True,
        )
    # a DIFFERENT name evolves fine
    VER.merge_into_bucketed(
        spark, tb,
        spark.createDataFrame([(3, 33, "x")], "id long, cents long, label string"),
        schema_evolution=True,
    )
    rows = {r["id"]: r["label"] for r in VER.read_bucketed(spark, tb).collect()}
    assert rows[3] == "x" and rows[4] is None


def test_data_commit_conflicts_with_concurrent_metadata_commit(
    spark, tmp_path, monkeypatch
):
    """ADVICE r10 (high): the rebase rule compares TABLE METADATA, not
    just bucket ownership — a merge planned before a concurrent
    drop_column / rename_column / add_constraint must CONFLICT (and
    succeed on retry under the new metadata), never rebase: rebasing
    would resurrect the dropped column via the schema union, duplicate
    the renamed one as old+new logical fields, or publish rows never
    validated against the new constraint."""
    import pytest

    from semantic_index_spark.sources import versioned as VER

    t = str(tmp_path / "mc")
    base = spark.range(0, 100).selectExpr(
        "id", "cast(id * 3 as long) AS val", "cast(id as double) AS score"
    )
    VER.create_bucketed(base, t, ["id"], n_buckets=8)
    real_rm = VER._read_manifest

    def staler(man0):
        def stale_rm(table, version=None):
            if version is None and table == t:
                return man0
            return real_rm(table, version)

        return stale_rm

    # --- winner: drop_column (metadata-only; zero buckets move) ---
    man0 = VER._read_manifest(t)
    VER.drop_column(t, "score")
    src = spark.createDataFrame(
        [(1, 999, 0.5)], "id bigint, val bigint, score double"
    )
    with monkeypatch.context() as m:
        m.setattr(VER, "_read_manifest", staler(man0))
        with pytest.raises(VER.CommitConflictError, match="metadata"):
            VER.merge_into_bucketed(spark, t, src)
    # retry against the fresh manifest (without the dropped column) lands
    VER.merge_into_bucketed(
        spark, t, spark.createDataFrame([(1, 999)], "id bigint, val bigint")
    )
    names = [
        f["name"] for f in json.loads(VER._read_manifest(t)["schema"])["fields"]
    ]
    assert "score" not in names
    got = {r["id"]: r["val"] for r in VER.read_bucketed(spark, t).collect()}
    assert got[1] == 999 and len(got) == 100

    # --- winner: rename_column ---
    man1 = VER._read_manifest(t)
    VER.rename_column(t, "val", "value")
    with monkeypatch.context() as m:
        m.setattr(VER, "_read_manifest", staler(man1))
        with pytest.raises(VER.CommitConflictError, match="metadata"):
            VER.merge_into_bucketed(
                spark, t, spark.createDataFrame([(2, 7)], "id bigint, val bigint")
            )
    VER.merge_into_bucketed(
        spark, t, spark.createDataFrame([(2, 7)], "id bigint, value bigint")
    )
    got = {r["id"]: r["value"] for r in VER.read_bucketed(spark, t).collect()}
    assert got[2] == 7

    # --- winner: add_constraint (rows must re-validate under it) ---
    man2 = VER._read_manifest(t)
    VER.add_constraint(spark, t, "val_nonneg", "value >= 0")
    bad = spark.createDataFrame([(3, -5)], "id bigint, value bigint")
    with monkeypatch.context() as m:
        m.setattr(VER, "_read_manifest", staler(man2))
        with pytest.raises(VER.CommitConflictError, match="metadata"):
            VER.merge_into_bucketed(spark, t, bad)
    # the retry re-plans under the constraint and rejects the bad row
    with pytest.raises(VER.ConstraintViolationError):
        VER.merge_into_bucketed(spark, t, bad)


def test_concurrent_metadata_only_commits_conflict(spark, tmp_path, monkeypatch):
    """ADVICE r10 (low): two racing metadata-only commits (neither moves
    a bucket) must not clobber — the loser's precomputed schema/colmap
    would silently undo the winner's change; it conflicts and retries."""
    import pytest

    from semantic_index_spark.sources import versioned as VER

    t = str(tmp_path / "mm")
    VER.create_bucketed(
        spark.range(0, 40).selectExpr(
            "id", "cast(id as long) AS a", "cast(id * 2 as long) AS b"
        ),
        t,
        ["id"],
        n_buckets=4,
    )
    man0 = VER._read_manifest(t)
    real_rm = VER._read_manifest

    def stale_rm(table, version=None):
        if version is None and table == t:
            return man0
        return real_rm(table, version)

    VER.rename_column(t, "a", "a2")  # winner
    with monkeypatch.context() as m:
        m.setattr(VER, "_read_manifest", stale_rm)
        with pytest.raises(VER.CommitConflictError, match="metadata"):
            VER.rename_column(t, "b", "b2")  # loser planned against man0
    VER.rename_column(t, "b", "b2")  # retry under the fresh manifest
    names = [
        f["name"] for f in json.loads(VER._read_manifest(t)["schema"])["fields"]
    ]
    assert set(names) == {"id", "a2", "b2"}  # BOTH renames landed
    rows = VER.read_bucketed(spark, t).filter("id = 3").collect()
    assert rows[0]["a2"] == 3 and rows[0]["b2"] == 6


def test_merge_type_widening_bucketed(spark, tmp_path):
    """VERDICT r10 #4 — Delta typeWidening on the bucketed store:
    int→bigint / float→double source columns widen the manifest schema on
    commit, UNTOUCHED buckets' narrow files are upcast by the parquet
    reader under the wider manifest read schema (zero rewrites), and time
    travel reads each version under its own type."""
    import pytest

    from semantic_index_spark.sources import versioned as VER

    t = str(tmp_path / "tw")
    base = spark.range(0, 100).selectExpr(
        "id",
        "cast(id * 3 as int) AS n",
        "cast(id / 4.0 as float) AS score",  # quarters: exact in float32
    )
    VER.create_bucketed(base, t, ["id"], n_buckets=8)
    # a wide source WITHOUT the flag is an error, never a silent coercion
    wide_src = spark.createDataFrame(
        [(1, 3_000_000_000, 0.25), (200, 7, 1.5)],
        "id bigint, n bigint, score double",
    )
    with pytest.raises(ValueError, match="schema_evolution"):
        VER.merge_into_bucketed(spark, t, wide_src)
    v1 = VER.merge_into_bucketed(spark, t, wide_src, schema_evolution=True)
    cur = VER.read_bucketed(spark, t)
    assert dict(cur.dtypes)["n"] == "bigint" and dict(cur.dtypes)["score"] == "double"
    got = {r["id"]: (r["n"], r["score"]) for r in cur.collect()}
    assert got[1] == (3_000_000_000, 0.25)  # beyond int32: genuinely widened
    assert got[200] == (7, 1.5)  # inserted key
    assert got[99] == (297, 24.75)  # untouched bucket file upcast at read
    assert len(got) == 101
    # time travel: v0 still reads under the ORIGINAL narrow types
    v0 = VER.read_bucketed(spark, t, version=0)
    assert dict(v0.dtypes)["n"] == "int" and dict(v0.dtypes)["score"] == "float"
    assert {r["id"] for r in v0.collect()} == set(range(100))
    # CDF straddling the widening reads both sides under the wider type
    diff = {r["id"]: r for r in VER.diff_bucketed(spark, t, 0, v1).collect()}
    assert diff[1]["_action"] == "updated" and diff[1]["n_new"] == 3_000_000_000
    assert diff[200]["_action"] == "inserted"
    # key columns never widen (int-keyed table, bigint-keyed source)
    t2 = str(tmp_path / "tw_key")
    VER.create_bucketed(
        spark.range(0, 10).selectExpr("cast(id as int) AS id", "id AS v"),
        t2, ["id"], n_buckets=4,
    )
    with pytest.raises(ValueError, match="key column"):
        VER.merge_into_bucketed(
            spark, t2,
            spark.createDataFrame([(3, 9)], "id bigint, v bigint"),
            schema_evolution=True,
        )
    # incompatible (non-lattice) type changes are errors, not coercions
    with pytest.raises(ValueError, match="lattice"):
        VER.merge_into_bucketed(
            spark, t,
            spark.createDataFrame([(5, "x", 0.5)], "id bigint, n string, score double"),
            schema_evolution=True,
        )


def _brute_topk(spark, df, q, k):
    from semantic_index_spark.operators import similarity as S

    return [
        (r["vec_id"], r["score"])
        for r in S.topk(
            df.selectExpr("id AS vec_id", "embedding"), q, k=k
        ).collect()
    ]


def _emb(i):
    return [float((i * 37) % 11), float((i * 53) % 13), float((i * 29) % 7)]


def test_indexed_table_attach_merge_serve_time_travel(spark, tmp_path):
    """VERDICT r10 #7 (index ∘ table atomicity): the HNSW index is a
    TABLE ARTIFACT — attach commits it into the manifest, every merge
    rebuilds the affected bucket-aligned shards inside its own staged
    commit, serves resolve shards through the manifest (so time travel
    serves each version from its own graphs), and DV deletes apply as
    serve-time tombstones."""
    from semantic_index_spark.sources import indexed as IDX
    from semantic_index_spark.sources import versioned as VER

    t = str(tmp_path / "it")
    rows = [(i, _emb(i)) for i in range(120)]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    VER.create_bucketed(df, t, ["id"], n_buckets=8)
    v_attach = IDX.attach_hnsw_index(spark, t, m=4, ef_construction=16)
    q = _emb(5)
    got = [
        (r["vec_id"], r["score"])
        for r in IDX.indexed_hnsw_topk(spark, t, q, k=5, ef=None).collect()
    ]
    assert got == _brute_topk(spark, df, q, 5)
    # merge: update some embeddings, insert new ids — affected shards
    # rebuild inside the merge's own commit
    upd = [(3, _emb(900)), (5, _emb(901)), (200, _emb(200)), (201, _emb(201))]
    src = spark.createDataFrame(upd, "id long, embedding array<double>")
    VER.merge_into_bucketed(spark, t, src)
    merged = VER.read_bucketed(spark, t)
    got2 = [
        (r["vec_id"], r["score"])
        for r in IDX.indexed_hnsw_topk(spark, t, q, k=5, ef=None).collect()
    ]
    assert got2 == _brute_topk(spark, merged, q, 5)
    # time travel: the attach-time version serves from ITS OWN shards
    got_old = [
        (r["vec_id"], r["score"])
        for r in IDX.indexed_hnsw_topk(
            spark, t, q, k=5, ef=None, version=v_attach
        ).collect()
    ]
    assert got_old == got
    # DV delete: no shard rebuild, deleted ids stop ranking immediately
    VER.delete_bucketed(spark, t, spark.createDataFrame([(5,), (7,)], "id long"))
    live = VER.read_bucketed(spark, t)
    got3 = [
        (r["vec_id"], r["score"])
        for r in IDX.indexed_hnsw_topk(spark, t, q, k=5, ef=None).collect()
    ]
    assert got3 == _brute_topk(spark, live, q, 5)
    assert all(v not in (5, 7) for v, _ in got3)
    # OPTIMIZE folds the DVs AND rebuilds the affected shards in the same
    # commit: identical serve, deleted nodes physically gone
    v_opt = VER.optimize_bucketed(spark, t)
    man_opt = VER._read_manifest(t)
    assert not man_opt.get("dv")
    got_opt = [
        (r["vec_id"], r["score"])
        for r in IDX.indexed_hnsw_topk(spark, t, q, k=5, ef=None).collect()
    ]
    assert got_opt == got3
    idx_rows = IDX.indexed_hnsw_topk(spark, t, q, k=1000, ef=None).collect()
    assert all(r["vec_id"] not in (5, 7) for r in idx_rows)
    # RESTORE carries the shard map wholesale: rollback restores the
    # index with the data (ids 5/7 rank again, 200/201 vanish)
    VER.restore_bucketed(t, v_attach)
    got_restored = [
        (r["vec_id"], r["score"])
        for r in IDX.indexed_hnsw_topk(spark, t, q, k=5, ef=None).collect()
    ]
    assert got_restored == got  # the attach-time serve
    VER.restore_bucketed(t, v_opt)  # roll forward again
    # RENAME of any column except the index's embedding column is fine;
    # the DV serve path resolves column-mapped keys physically
    import pytest

    with pytest.raises(ValueError, match="embedding column"):
        VER.rename_column(t, "embedding", "vec")
    with pytest.raises(ValueError, match="embedding column"):
        VER.drop_column(t, "embedding")
    VER.rename_column(t, "id", "doc_id")
    VER.delete_bucketed(spark, t, spark.createDataFrame([(11,)], "doc_id long"))
    live2 = VER.read_bucketed(spark, t).selectExpr("doc_id AS id", "embedding")
    got_renamed = [
        (r["vec_id"], r["score"])
        for r in IDX.indexed_hnsw_topk(spark, t, q, k=5, ef=None).collect()
    ]
    assert got_renamed == _brute_topk(spark, live2, q, 5)
    assert all(v != 11 for v, _ in got_renamed)
    # CLONE consolidates the shard graphs under v=0 — self-contained serve
    t2 = str(tmp_path / "it_clone")
    VER.clone_table(t, t2)
    got_clone = [
        (r["vec_id"], r["score"])
        for r in IDX.indexed_hnsw_topk(spark, t2, q, k=5, ef=None).collect()
    ]
    assert got_clone == got_renamed
    # expire keeps every version a retained manifest's index references
    VER.expire_bucketed(t, keep_manifests=2)
    got4 = [
        (r["vec_id"], r["score"])
        for r in IDX.indexed_hnsw_topk(spark, t, q, k=5, ef=None).collect()
    ]
    assert got4 == got_renamed


def test_indexed_table_crash_never_skews(spark, tmp_path, monkeypatch):
    """VERDICT r10 #7 done-criterion: a crash between 'index written' and
    'table committed' can never exist — both ride ONE staged directory
    and ONE manifest publish. Simulate a crash (a) before the critical
    section and (b) inside it after the version-directory rename but
    before the pointer swap: in both worlds the reader sees the OLD
    table and the OLD index together, never a mix; the retried merge
    then lands both together."""
    from semantic_index_spark.sources import indexed as IDX
    from semantic_index_spark.sources import versioned as VER

    t = str(tmp_path / "crash")
    rows = [(i, _emb(i)) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    VER.create_bucketed(df, t, ["id"], n_buckets=4)
    IDX.attach_hnsw_index(spark, t, m=4, ef_construction=16)
    q = _emb(9)
    before = [
        (r["vec_id"], r["score"])
        for r in IDX.indexed_hnsw_topk(spark, t, q, k=5, ef=None).collect()
    ]
    src = spark.createDataFrame(
        [(9, _emb(500)), (300, _emb(300))], "id long, embedding array<double>"
    )

    class _Boom(RuntimeError):
        pass

    # crash (a): staged data + staged index written, publish never runs
    def explode(*a, **k):
        raise _Boom("crash before publish")

    with monkeypatch.context() as m:
        m.setattr(VER, "_publish_bucketed", explode)
        try:
            VER.merge_into_bucketed(spark, t, src)
            raise AssertionError("crash sim did not fire")
        except _Boom:
            pass
    # crash (b): v-dir renamed into place, pointer swap never happens
    real_wp = VER._write_pointer

    def explode_wp(*a, **k):
        raise _Boom("crash before pointer swap")

    with monkeypatch.context() as m:
        m.setattr(VER, "_write_pointer", explode_wp)
        try:
            VER.merge_into_bucketed(spark, t, src)
            raise AssertionError("crash sim did not fire")
        except _Boom:
            pass
    # after BOTH crashes: reader sees old table + old index, consistent
    cur = VER.read_bucketed(spark, t)
    assert {r["id"] for r in cur.collect()} == set(range(60))  # no 300
    after_crash = [
        (r["vec_id"], r["score"])
        for r in IDX.indexed_hnsw_topk(spark, t, q, k=5, ef=None).collect()
    ]
    assert after_crash == before  # index matches the table it serves
    assert after_crash == _brute_topk(spark, cur, q, 5)
    # the orphaned v-dir from crash (b) blocks the SAME version number —
    # reclaim crash leftovers (age-gated in production; forced here), then
    # the retry lands table + index together
    import glob
    import os
    import shutil

    ptr = VER.current_version(t)
    for d in glob.glob(os.path.join(t, "v=*")):
        if int(d.rsplit("=", 1)[1]) > ptr:
            shutil.rmtree(d)
    for d in glob.glob(os.path.join(t, "_staged_*")):
        shutil.rmtree(d)
    VER.merge_into_bucketed(spark, t, src)
    merged = VER.read_bucketed(spark, t)
    assert {r["id"] for r in merged.collect()} == set(range(60)) | {300}
    got = [
        (r["vec_id"], r["score"])
        for r in IDX.indexed_hnsw_topk(spark, t, q, k=5, ef=None).collect()
    ]
    assert got == _brute_topk(spark, merged, q, 5)


def test_versioned_table_sql_front_door(spark, tmp_path):
    """Round 11 (VERDICT r10 #8): the versioned store as a batch Python
    DataSource — pure-SQL access with VERSION AS OF / TIMESTAMP AS OF
    equivalents, read semantics identical to read_bucketed (renames, DVs,
    schema evolution), and manifest-level bucket pruning for SQL point
    lookups via pushFilters."""
    from semantic_index_spark.sources import versioned as VER
    from semantic_index_spark.sources import versioned_batch as VB

    t = str(tmp_path / "sqlfd")
    base = spark.range(0, 100).selectExpr("id", "cast(id * 3 as long) AS v")
    VER.create_bucketed(base, t, ["id"], n_buckets=8)
    VER.merge_into_bucketed(
        spark, t,
        spark.createDataFrame([(5, 999, "x"), (200, 1, "y")],
                              "id long, v long, tag string"),
        schema_evolution=True,
    )
    VER.delete_bucketed(spark, t, spark.createDataFrame([(7,)], "id long"))
    VER.rename_column(t, "v", "val")
    # batch read == read_bucketed, through rename + DV + evolution
    VB.register_versioned_table(spark)
    cur = spark.read.format("versioned_table").option("table", t).load()
    assert {tuple(r) for r in cur.collect()} == {
        tuple(r) for r in VER.read_bucketed(spark, t).collect()
    }
    # SQL views: latest + VERSION AS OF (pre-rename schema)
    VB.sql_view(spark, "sqlfd_cur", t)
    VB.sql_view(spark, "sqlfd_v0", t, version=0)
    assert spark.sql("SELECT val FROM sqlfd_cur WHERE id = 5").collect()[0][0] == 999
    assert spark.sql(
        "SELECT count(*) AS n FROM sqlfd_cur WHERE id = 7"
    ).collect()[0][0] == 0  # DV applies
    v0 = spark.table("sqlfd_v0")
    assert v0.columns == ["id", "v"] and v0.count() == 100
    # point-lookup pruning plans only the key's bucket — and stays correct
    from pyspark.sql.datasource import EqualTo, In

    man = VER._read_manifest(t)
    full = VB.VersionedTableReader(cur.schema, t, man["version"]).partitions()
    pruned = VB.VersionedTableReader(cur.schema, t, man["version"])
    pruned.pushFilters([EqualTo(("id",), 5)])
    assert 0 < len(pruned.partitions()) < len(full)
    multi = VB.VersionedTableReader(cur.schema, t, man["version"])
    multi.pushFilters([In(("id",), (1, 2, 3))])
    assert 0 < len(multi.partitions()) <= len(full)
    got = spark.sql(
        "SELECT id, val FROM sqlfd_cur WHERE id IN (1, 2, 3) ORDER BY id"
    ).collect()
    assert [(r["id"], r["val"]) for r in got] == [(1, 3), (2, 6), (3, 9)]
    # the numpy bucket hash MUST bit-match Spark's xxhash64 (all 64 bits)
    # — the prune would otherwise silently drop matching rows
    import pyspark.sql.functions as F

    panel = [0, 1, 5, -1, -7, 123456789, 2**31 - 1, -(2**31), 2**62, -(2**62)]
    rows = spark.createDataFrame([(v,) for v in panel], "x long").select(
        "x", F.xxhash64("x").alias("h")
    ).collect()
    got = VB.xxhash64_np([r["x"] for r in rows], "long")
    assert [int(h) for h in got] == [r["h"] for r in rows]
    int_panel = [v for v in panel if -(2**31) <= v < 2**31]
    rows = spark.createDataFrame([(v,) for v in int_panel], "x int").select(
        "x", F.xxhash64("x").alias("h")
    ).collect()
    got = VB.xxhash64_np([r["x"] for r in rows], "integer")
    assert [int(h) for h in got] == [r["h"] for r in rows]
    # plain snapshot tables work too (no manifest path)
    tp = str(tmp_path / "plain")
    VER.commit_version(spark.range(0, 10).selectExpr("id", "id * 2 AS d"), tp)
    VB.sql_view(spark, "sqlfd_plain", tp)
    assert spark.sql("SELECT sum(d) AS s FROM sqlfd_plain").collect()[0][0] == 90


def test_indexed_table_concurrent_merges_rebase_shards(spark, tmp_path):
    """Round 11: the co-committed index's shard map merges across the
    DISJOINT-bucket rebase exactly like bucket ownership — two concurrent
    merges (retry on conflict) both land, and the final serve equals
    brute force over the final table (a lost shard rewrite would miss its
    writer's rows)."""
    import threading

    from semantic_index_spark.sources import indexed as IDX
    from semantic_index_spark.sources import versioned as VER

    t = str(tmp_path / "occ_idx")
    rows = [(i, _emb(i)) for i in range(80)]
    VER.create_bucketed(
        spark.createDataFrame(rows, "id long, embedding array<double>"),
        t, ["id"], n_buckets=8,
    )
    IDX.attach_hnsw_index(spark, t, m=4, ef_construction=16)
    errs = []

    def writer(base_id):
        try:
            for j in range(2):
                src = spark.createDataFrame(
                    [(base_id + j, _emb(base_id + j))],
                    "id long, embedding array<double>",
                )
                VER.retry_commit(
                    lambda s=src: VER.merge_into_bucketed(spark, t, s),
                    attempts=20,
                )
        except Exception as e:
            errs.append(e)

    ths = [threading.Thread(target=writer, args=(b,)) for b in (200, 300, 400)]
    for th in ths:
        th.start()
    for th in ths:
        th.join()
    assert not errs, errs
    final = VER.read_bucketed(spark, t)
    assert final.count() == 86  # 80 base + 6 inserts, none lost
    q = _emb(200)
    got = [
        (r["vec_id"], r["score"])
        for r in IDX.indexed_hnsw_topk(spark, t, q, k=8, ef=None).collect()
    ]
    assert got == _brute_topk(spark, final, q, 8)


def test_detach_hnsw_index_and_race_guard(spark, tmp_path, monkeypatch):
    """Round 11: detach_hnsw_index is a metadata-only commit removing the
    index spec (shard files stay for time travel, merges stop
    maintaining, the embedding column frees up, re-attach works); a merge
    that planned index maintenance CONFLICTS when a concurrent detach
    wins instead of resurrecting the spec through its rebase finalize."""
    import pytest

    from semantic_index_spark.sources import indexed as IDX
    from semantic_index_spark.sources import versioned as VER

    t = str(tmp_path / "det")
    rows = [(i, _emb(i)) for i in range(60)]
    VER.create_bucketed(
        spark.createDataFrame(rows, "id long, embedding array<double>"),
        t, ["id"], n_buckets=4,
    )
    v_attach = IDX.attach_hnsw_index(spark, t, m=4, ef_construction=16)
    man_pre = VER._read_manifest(t)
    v_det = IDX.detach_hnsw_index(t)
    assert not VER._indexes(VER._read_manifest(t))
    with pytest.raises(ValueError, match="no co-committed index"):
        IDX.detach_hnsw_index(t)
    # time travel still serves the attach version from its shards
    q = _emb(9)
    got = IDX.indexed_hnsw_topk(spark, t, q, k=5, ef=None, version=v_attach)
    assert got.count() == 5
    with pytest.raises(ValueError, match="no co-committed index"):
        IDX.indexed_hnsw_topk(spark, t, q, k=5, ef=None)
    # merges stop maintaining; the embedding column renames freely now
    VER.merge_into_bucketed(
        spark, t,
        spark.createDataFrame([(100, _emb(100))], "id long, embedding array<double>"),
    )
    assert not VER._indexes(VER._read_manifest(t))
    VER.rename_column(t, "embedding", "vec")  # frees up post-detach
    # race: a merge planned BEFORE the detach must conflict, not rebase
    real_rm = VER._read_manifest

    def stale_rm(table, version=None):
        if version is None and table == t:
            return man_pre  # still sees the index spec
        return real_rm(table, version)

    with monkeypatch.context() as m:
        m.setattr(VER, "_read_manifest", stale_rm)
        with pytest.raises(VER.CommitConflictError, match="index"):
            VER.merge_into_bucketed(
                spark, t,
                spark.createDataFrame(
                    [(101, _emb(101))], "id long, embedding array<double>"
                ),
            )
    # re-attach over the merged, renamed state works and serves correctly
    IDX.attach_hnsw_index(spark, t, emb_col="vec", m=4, ef_construction=16)
    final = VER.read_bucketed(spark, t).selectExpr("id", "vec AS embedding")
    got2 = [
        (r["vec_id"], r["score"])
        for r in IDX.indexed_hnsw_topk(spark, t, q, k=5, ef=None).collect()
    ]
    assert got2 == _brute_topk(spark, final, q, 5)


def test_r12_widening_guard_is_token_scoped(spark, tmp_path):
    """ADVICE r11: the constraint/generated widening guard matches
    identifier TOKENS, not substrings — widening `id` while a constraint
    reads `doc_id` must succeed; widening the genuinely referenced column
    must still refuse."""
    import pytest

    from semantic_index_spark.sources import versioned as VER

    t = str(tmp_path / "tok")
    base = spark.range(0, 20).selectExpr(
        "id AS k", "cast(id as int) AS id", "id * 7 AS doc_id"
    )
    VER.create_bucketed(base, t, ["k"], n_buckets=4)
    VER.add_constraint(spark, t, "pos_doc", "doc_id >= 0")
    # `id` is a substring of `doc_id` but a different identifier: widens
    VER.merge_into_bucketed(
        spark, t,
        spark.createDataFrame([(1, 2**40, 7)], "k long, id bigint, doc_id long"),
        schema_evolution=True,
    )
    cur = VER.read_bucketed(spark, t)
    assert dict(cur.dtypes)["id"] == "bigint"
    assert {r["id"] for r in cur.filter("k = 1").collect()} == {2**40}
    # the referenced column itself still refuses
    t2 = str(tmp_path / "tok2")
    VER.create_bucketed(
        spark.range(0, 10).selectExpr("id AS k", "cast(id as int) AS n"),
        t2, ["k"], n_buckets=4,
    )
    VER.add_constraint(spark, t2, "pos_n", "n >= 0")
    with pytest.raises(ValueError, match="cannot widen"):
        VER.merge_into_bucketed(
            spark, t2,
            spark.createDataFrame([(1, 2**40)], "k long, n bigint"),
            schema_evolution=True,
        )


def test_r12_sql_view_guards(spark, tmp_path):
    """ADVICE r11 + VERDICT #7: sql_view rejects identifiers that are not
    real identifiers (leading digit) and option values carrying single
    quotes (DDL injection through the interpolated path)."""
    import pytest

    from semantic_index_spark.sources import versioned as VER
    from semantic_index_spark.sources import versioned_batch as VB

    t = str(tmp_path / "g")
    VER.commit_version(spark.range(0, 3).selectExpr("id"), t)
    with pytest.raises(ValueError, match="invalid view name"):
        VB.sql_view(spark, "1view", t)
    with pytest.raises(ValueError, match="invalid view name"):
        VB.sql_view(spark, "a-b", t)
    with pytest.raises(ValueError, match="single quote"):
        VB.sql_view(spark, "ok_view", t + "') --'")
    with pytest.raises(ValueError, match="single quote"):
        VB.sql_view(spark, "ok_view", t, as_of_ts="2026-01-01' OR '")
    VB.sql_view(spark, "ok_view", t)  # sane inputs still bind
    assert spark.sql("SELECT count(*) AS n FROM ok_view").collect()[0][0] == 3


def test_r12_sql_reader_prunes_retired_columns(spark, tmp_path, monkeypatch):
    """VERDICT r11 #2: the SQL source's reader passes an explicit column
    list to pyarrow — a dropped column's retired physical bytes are never
    decoded (DROP COLUMN keeps its zero-IO story on the SQL path), and
    pre-evolution files read under the intersection."""
    import pyarrow.parquet as _pq

    from semantic_index_spark.sources import versioned as VER
    from semantic_index_spark.sources import versioned_batch as VB

    t = str(tmp_path / "prune")
    VER.create_bucketed(
        spark.range(0, 40).selectExpr("id", "id * 2 AS keep", "id * 3 AS dead"),
        t, ["id"], n_buckets=4,
    )
    VER.drop_column(t, "dead")
    seen: list = []
    real = _pq.read_table

    def spy(path, *a, columns=None, **kw):
        seen.append(columns)
        return real(path, *a, columns=columns, **kw)

    man = VER._read_manifest(t)
    schema = VER._manifest_schema(man)
    reader = VB.VersionedTableReader(schema, t, man["version"])
    with monkeypatch.context() as m:
        m.setattr(_pq, "read_table", spy)
        rows = [
            tuple(r[c] for c in ("id", "keep"))
            for p in reader.partitions()
            for b in reader.read(p)
            for r in b.to_pylist()
        ]
    assert sorted(rows) == [(i, 2 * i) for i in range(40)]
    assert seen and all(cols is not None for cols in seen)
    assert all("dead" not in cols for cols in seen)
    # end-to-end through SQL stays correct
    VB.sql_view(spark, "prune_v", t)
    assert spark.sql("SELECT sum(keep) AS s FROM prune_v").collect()[0][0] == sum(
        2 * i for i in range(40)
    )


def test_r12_sql_hidden_partition_pruning(spark, tmp_path):
    """VERDICT r11 #1: a SQL predicate on a hidden-partitioned table plans
    only the surviving files — the pushFilters path reuses read_hidden's
    transform-rewrite soundness rules (day literals convert through the
    table's PINNED zone from the UTC instants SQL pushes), results match
    the Python path exactly, and filters still re-apply post-scan."""
    import datetime
    import zoneinfo

    from pyspark.sql import functions as F
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThan

    from semantic_index_spark.sources import hidden as HID
    from semantic_index_spark.sources import versioned_batch as VB

    t = str(tmp_path / "hsql")
    df = spark.range(0, 300).selectExpr(
        "id",
        "timestampadd(HOUR, CAST(id AS INT), timestamp'2026-03-01 00:00:00') AS ts",
        "CAST(id % 3 AS INT) AS cat",
        "id * 1.5 AS x",
    )
    HID.create_hidden(df, t, [("day", "ts"), ("identity", "cat")])
    VB.sql_view(spark, "hsql_v", t)
    got = spark.sql(
        "SELECT id, cat FROM hsql_v WHERE ts >= timestamp'2026-03-03 00:00:00' "
        "AND ts < timestamp'2026-03-05 00:00:00' AND cat = 1 ORDER BY id"
    ).collect()
    want = [
        (r["id"], r["cat"])
        for r in HID.read_hidden(
            spark, t,
            [("ts", ">=", datetime.datetime(2026, 3, 3)),
             ("ts", "<", datetime.datetime(2026, 3, 5)),
             ("cat", "=", 1)],
        ).orderBy("id").select("id", "cat").collect()
    ]
    assert [(r["id"], r["cat"]) for r in got] == want and len(want) > 0
    # plan-level selectivity: the reader with pushed filters plans fewer
    # files than the unfiltered reader, per level (day dirs, cat dirs)
    tz = zoneinfo.ZoneInfo(spark.conf.get("spark.sql.session.timeZone"))
    lo = datetime.datetime(2026, 3, 3, tzinfo=tz)
    hi = datetime.datetime(2026, 3, 5, tzinfo=tz)
    schema = spark.table("hsql_v").schema

    def n_parts(filters):
        r = VB.VersionedTableReader(schema, t, HID.current_version(t))
        r.pushFilters(filters)
        return len([p for p in r.partitions() if p.path])

    full = n_parts([])
    day_only = n_parts([GreaterThanOrEqual(("ts",), lo), LessThan(("ts",), hi)])
    both = n_parts(
        [GreaterThanOrEqual(("ts",), lo), LessThan(("ts",), hi), EqualTo(("cat",), 1)]
    )
    assert 0 < both < day_only < full
    # a filter the rewrite cannot evaluate prunes nothing but stays correct
    got2 = spark.sql("SELECT count(*) AS n FROM hsql_v WHERE x < 30.0").collect()
    assert got2[0][0] == df.filter(F.col("x") < 30.0).count()


def test_r12_sql_zonemap_pruning(spark, tmp_path):
    """VERDICT r11 #1 (zone-map half): SQL predicates prune files of both
    the composed hidden+skipping layout and the unversioned write_skipping
    layout, with file selection matching the Python path's
    candidate_files* exactly."""
    import os

    from pyspark.sql.datasource import EqualTo, GreaterThan, LessThanOrEqual

    from semantic_index_spark.sources import hidden as HID
    from semantic_index_spark.sources import skipping as SK
    from semantic_index_spark.sources import versioned_batch as VB

    # composed: hidden day(ts) partitions + per-file zone maps on id
    t = str(tmp_path / "comp")
    df = spark.range(0, 400).selectExpr(
        "id",
        "timestampadd(HOUR, CAST(id % 96 AS INT), timestamp'2026-05-01 00:00:00') AS ts",
        "id * 2 AS v",
    )
    HID.create_hidden_skipping(df, t, [("day", "ts")], ["id"], n_files=8, cluster_by="id")
    VB.sql_view(spark, "comp_v", t)
    got = spark.sql(
        "SELECT sum(v) AS s FROM comp_v WHERE id > 100 AND id <= 140"
    ).collect()[0][0]
    assert got == sum(2 * i for i in range(101, 141))
    schema = spark.table("comp_v").schema
    r = VB.VersionedTableReader(schema, t, HID.current_version(t))
    r.pushFilters([GreaterThan(("id",), 100), LessThanOrEqual(("id",), 140)])
    planned = sorted(
        os.path.relpath(p.path, os.path.join(t, f"v={HID.current_version(t)}"))
        for p in r.partitions() if p.path
    )
    want_files = HID.candidate_files_hidden(t, [("id", ">", 100), ("id", "<=", 140)])
    assert planned == want_files
    full = VB.VersionedTableReader(schema, t, HID.current_version(t)).partitions()
    assert 0 < len(planned) < len([p for p in full if p.path])
    # unversioned skipping layout with blooms: SQL reads it, point lookups
    # plan the candidate_files set
    ts = str(tmp_path / "skip")
    SK.write_skipping(
        spark.range(0, 1000).selectExpr("id", "id % 7 AS tag"),
        ts, ["id"], n_files=10, cluster_by="id", bloom_cols=["tag"],
    )
    VB.sql_view(spark, "skip_v", ts)
    assert spark.sql(
        "SELECT count(*) AS n FROM skip_v WHERE id = 17"
    ).collect()[0][0] == 1
    r2 = VB.VersionedTableReader(spark.table("skip_v").schema, ts, None)
    r2.pushFilters([EqualTo(("id",), 17)])
    planned2 = sorted(os.path.basename(p.path) for p in r2.partitions() if p.path)
    assert planned2 == SK.candidate_files(ts, [("id", "=", 17)])
    assert 0 < len(planned2) < 10
    # version pins are rejected on the unversioned layout
    import pytest

    with pytest.raises(Exception, match="unversioned"):
        spark.read.format("versioned_table").option("table", ts).option(
            "version", "0"
        ).load().collect()


def test_r12_sql_insert_into(spark, tmp_path):
    """VERDICT r11 #3: INSERT INTO a versioned_table SQL view — bucketed
    tables upsert on the key through the SAME staged-commit + OCC publish
    path as merge_into_bucketed (versioned._commit_staged_bucketed), DVs
    fold into the rewrite, time travel stays intact; plain snapshot
    tables append; stale-snapshot inserts conflict; unsupported surfaces
    refuse loudly."""
    import pytest

    from semantic_index_spark.sources import versioned as VER
    from semantic_index_spark.sources import versioned_batch as VB

    t = str(tmp_path / "ins")
    VER.create_bucketed(
        spark.range(0, 50).selectExpr("id", "id * 2 AS v"), t, ["id"], n_buckets=8
    )
    VER.delete_bucketed(spark, t, spark.createDataFrame([(3,), (48,)], "id long"))
    VER.rename_column(t, "v", "val")  # column mapping crosses the writer too
    VB.sql_view(spark, "ins_t", t)
    spark.sql("INSERT INTO ins_t SELECT id, id * 100 AS val FROM range(48, 55)")
    cur = {r["id"]: r["val"] for r in VER.read_bucketed(spark, t).collect()}
    # updates, inserts, DV-deletes all visible; DV-deleted then re-inserted
    # key (48) resurrects with the NEW value
    assert cur[49] == 4900 and cur[54] == 5400 and cur[10] == 20
    assert 3 not in cur and cur[48] == 4800
    assert len(cur) == 54
    # the rewrite folded + cleared the affected buckets' DVs
    man = VER._read_manifest(t)
    assert all(int(b) not in {  # buckets of 48/49/50..54 were rewritten
        VB._bucket_of(48, "long", 8)
    } for b in man.get("dv", {}))
    # time travel: v0 unchanged
    assert VER.read_bucketed(spark, t, version=0).count() == 50
    # an UN-pinned view re-resolves latest per statement (a real table's
    # semantics), so back-to-back inserts chain versions without rebinding
    spark.sql("INSERT INTO ins_t VALUES (200, 1)")
    assert VER.read_bucketed(spark, t).count() == 55
    # a version-PINNED view is a stale snapshot: its insert conflicts
    VB.sql_view(spark, "ins_t_v0", t, version=0)
    with pytest.raises(Exception, match="expected latest|CommitConflict"):
        spark.sql("INSERT INTO ins_t_v0 VALUES (201, 1)")
    # duplicate source keys refuse
    with pytest.raises(Exception, match="unique source keys"):
        spark.sql("INSERT INTO ins_t VALUES (7, 1), (7, 2)")
    # plain snapshot: append semantics + conflict on stale pin
    tp = str(tmp_path / "plain_ins")
    VER.commit_version(spark.range(0, 5).selectExpr("id", "id AS w"), tp)
    VB.sql_view(spark, "ins_p", tp)
    spark.sql("INSERT INTO ins_p VALUES (100, 700)")
    got = {(r["id"], r["w"]) for r in VER.read_version(spark, tp).collect()}
    assert got == {(i, i) for i in range(5)} | {(100, 700)}
    assert VER.read_version(spark, tp, version=0).count() == 5
    VB.sql_view(spark, "ins_p0", tp, version=0)  # stale pinned snapshot
    with pytest.raises(Exception, match="expected latest|CommitConflict"):
        spark.sql("INSERT INTO ins_p0 VALUES (101, 1)")
    # refused boundaries point at the Python verb
    tc = str(tmp_path / "cons")
    VER.create_bucketed(
        spark.range(0, 10).selectExpr("id", "id AS n"), tc, ["id"], n_buckets=4
    )
    VER.add_constraint(spark, tc, "pos", "n >= 0")
    VB.sql_view(spark, "ins_c", tc)
    with pytest.raises(Exception, match="constraints"):
        spark.sql("INSERT INTO ins_c VALUES (1, 2)")
    from semantic_index_spark.sources import hidden as HID

    th = str(tmp_path / "hid")
    HID.create_hidden(
        spark.range(0, 10).selectExpr("id", "CAST(id % 2 AS INT) AS p"),
        th, [("identity", "p")],
    )
    VB.sql_view(spark, "ins_h", th)
    with pytest.raises(Exception, match="read-only"):
        spark.sql("INSERT INTO ins_h VALUES (1, 2)")
    # empty INSERT is a no-op, not a version bump
    VB.sql_view(spark, "ins_t", t)
    v_before = VER.current_version(t)
    spark.sql("INSERT INTO ins_t SELECT id, id AS val FROM range(0) ")
    assert VER.current_version(t) == v_before


def test_r12_sql_insert_widened_table(spark, tmp_path):
    """INSERT INTO a type-widened bucketed table: the commit-side merge
    upcasts the untouched narrow survivors under the widened manifest
    schema exactly like the reader does (shared _project_logical)."""
    from semantic_index_spark.sources import versioned as VER
    from semantic_index_spark.sources import versioned_batch as VB

    t = str(tmp_path / "insw")
    VER.create_bucketed(
        spark.range(0, 30).selectExpr("id", "CAST(id AS INT) AS n"),
        t, ["id"], n_buckets=4,
    )
    VER.merge_into_bucketed(
        spark, t,
        spark.createDataFrame([(1, 2**40)], "id long, n bigint"),
        schema_evolution=True,
    )
    VB.sql_view(spark, "insw_v", t)
    spark.sql(f"INSERT INTO insw_v VALUES (100, {2**41})")
    cur = {r["id"]: r["n"] for r in VER.read_bucketed(spark, t).collect()}
    assert cur[100] == 2**41 and cur[1] == 2**40 and cur[29] == 29
    assert len(cur) == 31


def test_r12_indexed_table_ivfsq_lifecycle_and_crash(spark, tmp_path, monkeypatch):
    """VERDICT r11 #4: the co-committed index generalizes to a SECOND
    kind — IVF-SQ8 (frozen centroids + quantizer IN the manifest params,
    byte-code shards under __ivfsq/shard=<b>/_cell=<c>). Same contract as
    the HNSW kind: merges rebuild affected shards in their own commit,
    time travel serves each version from its own artifacts, DV deletes
    tombstone at the rescore join, OPTIMIZE physically drops dead codes,
    CLONE consolidates, crash leaves table+index consistent."""
    import pytest

    from semantic_index_spark.sources import indexed as IDX
    from semantic_index_spark.sources import versioned as VER

    t = str(tmp_path / "ivfsq_t")
    rows = [(i, _emb(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    VER.create_bucketed(df, t, ["id"], n_buckets=4)
    v_attach = IDX.attach_ivfsq_index(spark, t, n_cells=4)
    q = _emb(5)

    def serve(version=None, k=5):
        # nprobe = all cells + candidate slack ⇒ exhaustive-exact
        return [
            (r["vec_id"], r["score"])
            for r in IDX.indexed_ivfsq_topk(
                spark, t, q, k=k, nprobe=4, candidates=500, version=version
            ).collect()
        ]

    before = serve()
    assert before == _brute_topk(spark, df, q, 5)
    # merge rebuilds ONLY the affected shards inside its own commit
    src = spark.createDataFrame(
        [(5, _emb(900)), (300, _emb(300))], "id long, embedding array<double>"
    )
    VER.merge_into_bucketed(spark, t, src)
    merged = VER.read_bucketed(spark, t)
    assert serve() == _brute_topk(spark, merged, q, 5)
    man = VER._read_manifest(t)
    assert set(VER._indexes(man)["ivfsq"]["shards"].values()) > {v_attach}  # mixed owners
    # time travel: the attach version serves from its own shards/artifacts
    assert serve(version=v_attach) == before
    # DV delete: no rebuild; deleted candidates drop at the rescore join
    VER.delete_bucketed(spark, t, spark.createDataFrame([(5,)], "id long"))
    live = VER.read_bucketed(spark, t)
    got_dv = serve()
    assert got_dv == _brute_topk(spark, live, q, 5)
    assert all(v != 5 for v, _ in got_dv)
    # OPTIMIZE folds DVs and physically drops the dead codes
    VER.optimize_bucketed(spark, t)
    man_opt = VER._read_manifest(t)
    assert not man_opt.get("dv")
    assert serve() == got_dv
    idx = IDX._read_index_shards(
        spark, t, man_opt, IDX._resolve_index(man_opt, None, "ivfsq")
    )
    assert idx.filter("vec_id = 5").count() == 0
    # clone consolidates shards; detach works for any kind
    t2 = str(tmp_path / "ivfsq_clone")
    VER.clone_table(t, t2)
    got_clone = [
        (r["vec_id"], r["score"])
        for r in IDX.indexed_ivfsq_topk(
            spark, t2, q, k=5, nprobe=4, candidates=500
        ).collect()
    ]
    assert got_clone == got_dv
    # the embedding column is guarded for this kind too
    with pytest.raises(ValueError, match="embedding column"):
        VER.drop_column(t, "embedding")
    # crash sim: staged data + staged codes written, publish never runs →
    # reader sees OLD table + OLD index together
    class _Boom(RuntimeError):
        pass

    def explode(*a, **k):
        raise _Boom("crash before publish")

    src2 = spark.createDataFrame([(7, _emb(901))], "id long, embedding array<double>")
    with monkeypatch.context() as m:
        m.setattr(VER, "_publish_bucketed", explode)
        with pytest.raises(_Boom):
            VER.merge_into_bucketed(spark, t, src2)
    cur = VER.read_bucketed(spark, t)
    assert serve() == _brute_topk(spark, cur, q, 5)
    # detach: metadata-only, serve refuses, re-attach works
    IDX.detach_index(t)
    with pytest.raises(ValueError, match="no co-committed IVF-SQ8"):
        IDX.indexed_ivfsq_topk(spark, t, q, k=5)
    IDX.attach_ivfsq_index(spark, t, n_cells=4)
    assert serve() == _brute_topk(spark, VER.read_bucketed(spark, t), q, 5)


def test_r12_widening_decimal_date_lanes(spark, tmp_path):
    """VERDICT r11 #8: the widening lattice gains the exact Delta lanes —
    date→timestamp_ntz, decimal(p,s)→decimal(p',s') with non-shrinking
    integer digits and scale, and integral→decimal with the physical-width
    floor (int32 family needs ≥10 integer digits, long ≥20). Zero-rewrite
    contract: untouched buckets' narrow files upcast at read; time travel
    keeps the narrow types; the SQL front door reads the widened schema."""
    import datetime
    from decimal import Decimal

    import pytest

    from semantic_index_spark.sources import versioned as VER
    from semantic_index_spark.sources import versioned_batch as VB

    t = str(tmp_path / "wl")
    base = spark.range(0, 60).selectExpr(
        "id",
        "DATE_FROM_UNIX_DATE(CAST(id AS INT)) AS d",
        "CAST(id AS DECIMAL(10,2)) AS amt",
        "CAST(id AS INT) AS n",
    )
    VER.create_bucketed(base, t, ["id"], n_buckets=8)
    wide = spark.createDataFrame(
        [(1, datetime.datetime(2026, 3, 1, 12, 30), Decimal("123.4567"), Decimal(7))],
        "id bigint, d timestamp_ntz, amt decimal(16,4), n decimal(20,0)",
    )
    v1 = VER.merge_into_bucketed(spark, t, wide, schema_evolution=True)
    cur = VER.read_bucketed(spark, t)
    assert dict(cur.dtypes) == {
        "id": "bigint", "d": "timestamp_ntz",
        "amt": "decimal(16,4)", "n": "decimal(20,0)",
    }
    got = {r["id"]: r for r in cur.collect()}
    # untouched buckets' narrow files upcast exactly at read
    assert got[40]["d"] == datetime.datetime(1970, 2, 10, 0, 0)
    assert got[40]["amt"] == Decimal("40.0000")
    assert got[40]["n"] == Decimal("40")
    assert got[1]["d"] == datetime.datetime(2026, 3, 1, 12, 30)
    assert got[1]["amt"] == Decimal("123.4567")
    # time travel reads v0 under the original narrow types
    v0 = VER.read_bucketed(spark, t, version=0)
    assert dict(v0.dtypes)["d"] == "date" and dict(v0.dtypes)["amt"] == "decimal(10,2)"
    assert v0.filter("id = 40").collect()[0]["d"] == datetime.date(1970, 2, 10)
    # the SQL front door reads the widened schema (pyarrow cast path)
    VB.sql_view(spark, "wl_v", t)
    r = spark.sql("SELECT d, amt, n FROM wl_v WHERE id = 40").collect()[0]
    assert r["d"] == datetime.datetime(1970, 2, 10, 0, 0)
    assert r["amt"] == Decimal("40.0000") and r["n"] == Decimal("40")
    # CDF straddling the widening unions to the wider types
    diff = {r["id"]: r for r in VER.diff_bucketed(spark, t, 0, v1).collect()}
    assert diff[1]["amt_new"] == Decimal("123.4567")
    # refusals: neither direction on the lattice — amt (16,2): scale grew
    # 4→2? no, integer digits 12 vs 14 shrink one way, scale shrinks the
    # other; n (38,24): digit budget shrinks vs (20,0) and scale shrinks
    # in reverse — both are errors, never silent coercions
    for bad_schema, bad_row in [
        ("id bigint, d timestamp_ntz, amt decimal(16,2), n decimal(20,0)",
         (2, datetime.datetime(2026, 1, 1), Decimal("1.00"), Decimal(1))),
        ("id bigint, d timestamp_ntz, amt decimal(16,4), n decimal(38,24)",
         (2, datetime.datetime(2026, 1, 1), Decimal("1.0000"), Decimal(1))),
    ]:
        with pytest.raises(ValueError, match="lattice"):
            VER.merge_into_bucketed(
                spark, t, spark.createDataFrame([bad_row], bad_schema),
                schema_evolution=True,
            )
    # a NARROWER decimal source is not a refusal: it upcasts into the
    # table type at write, no schema change
    VER.merge_into_bucketed(
        spark, t,
        spark.createDataFrame(
            [(2, datetime.datetime(2026, 1, 2), Decimal("9.5"), Decimal(4))],
            "id bigint, d timestamp_ntz, amt decimal(9,1), n decimal(9,0)",
        ),
    )
    cur_n = VER.read_bucketed(spark, t)
    assert dict(cur_n.dtypes)["amt"] == "decimal(16,4)"
    assert cur_n.filter("id = 2").collect()[0]["amt"] == Decimal("9.5000")
    t2 = str(tmp_path / "wl2")
    VER.create_bucketed(
        spark.range(0, 10).selectExpr("id", "CAST(id AS SMALLINT) AS s"),
        t2, ["id"], n_buckets=4,
    )
    with pytest.raises(ValueError, match="lattice"):  # short→decimal(5,0): sub-floor
        VER.merge_into_bucketed(
            spark, t2,
            spark.createDataFrame([(1, Decimal("3"))], "id bigint, s decimal(5,0)"),
            schema_evolution=True,
        )
    # short→decimal(10,0) is AT the floor: widens
    VER.merge_into_bucketed(
        spark, t2,
        spark.createDataFrame([(1, Decimal("3"))], "id bigint, s decimal(10,0)"),
        schema_evolution=True,
    )
    cur2 = VER.read_bucketed(spark, t2)
    assert dict(cur2.dtypes)["s"] == "decimal(10,0)"
    assert {r["s"] for r in cur2.filter("id in (1, 9)").collect()} == {
        Decimal("3"), Decimal("9")
    }


def test_r12_multi_index_table(spark, tmp_path):
    """VERDICT r11 #4 (second half): a table carries SEVERAL named
    co-committed indexes — an HNSW and an IVF-SQ8 over the same data —
    and every hook maintains ALL of them: one merge rebuilds both
    indexes' affected shards in its single commit, serves resolve by
    name (ambiguity over kind is an error, not a silent pick), detach
    removes one and keeps the other, the drop guard covers every index's
    embedding column, and CLONE consolidates all shard artifacts."""
    import pytest

    from semantic_index_spark.sources import indexed as IDX
    from semantic_index_spark.sources import versioned as VER

    t = str(tmp_path / "multi")
    rows = [(i, _emb(i)) for i in range(90)]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    VER.create_bucketed(df, t, ["id"], n_buckets=4)
    IDX.attach_hnsw_index(spark, t, m=4, ef_construction=16)  # name="hnsw"
    IDX.attach_ivfsq_index(spark, t, n_cells=4)  # name="ivfsq"
    man = VER._read_manifest(t)
    assert set(VER._indexes(man)) == {"hnsw", "ivfsq"}
    # duplicate names refuse; a third index under a new name attaches
    with pytest.raises(ValueError, match="already carries"):
        IDX.attach_hnsw_index(spark, t, m=4, ef_construction=16)
    IDX.attach_hnsw_index(spark, t, m=8, ef_construction=16, name="hnsw_hi")
    q = _emb(7)

    def hnsw_serve(name, version=None):
        return [
            (r["vec_id"], r["score"])
            for r in IDX.indexed_hnsw_topk(
                spark, t, q, k=5, ef=None, version=version, name=name
            ).collect()
        ]

    def sq_serve(version=None):
        return [
            (r["vec_id"], r["score"])
            for r in IDX.indexed_ivfsq_topk(
                spark, t, q, k=5, nprobe=4, candidates=500, version=version
            ).collect()
        ]

    want0 = _brute_topk(spark, df, q, 5)
    assert hnsw_serve("hnsw") == want0 and hnsw_serve("hnsw_hi") == want0
    assert sq_serve() == want0
    # two hnsw indexes: kind-based resolution is ambiguous, name required
    with pytest.raises(ValueError, match="pass name="):
        IDX.indexed_hnsw_topk(spark, t, q, k=5, ef=None)
    # ONE merge maintains all three indexes in its single commit
    src = spark.createDataFrame(
        [(7, _emb(700)), (200, _emb(200))], "id long, embedding array<double>"
    )
    v_merge = VER.merge_into_bucketed(spark, t, src)
    merged = VER.read_bucketed(spark, t)
    want1 = _brute_topk(spark, merged, q, 5)
    assert hnsw_serve("hnsw") == want1 and hnsw_serve("hnsw_hi") == want1
    assert sq_serve() == want1
    man2 = VER._read_manifest(t)
    for iname in ("hnsw", "hnsw_hi", "ivfsq"):
        owners = set(VER._indexes(man2)[iname]["shards"].values())
        assert v_merge in owners  # affected shards advanced for EVERY index
    # time travel serves the pre-merge state from each index's own shards
    assert sq_serve(version=v_merge - 1) == want0
    # drop guard covers the (shared) embedding column of all indexes
    with pytest.raises(ValueError, match="embedding column"):
        VER.drop_column(t, "embedding")
    # detach ONE by name; the others keep serving and merging
    with pytest.raises(ValueError, match="pass name="):
        IDX.detach_index(t)
    IDX.detach_index(t, "hnsw_hi")
    assert set(VER._indexes(VER._read_manifest(t))) == {"hnsw", "ivfsq"}
    assert hnsw_serve(None) == want1  # kind-unique again: no name needed
    VER.merge_into_bucketed(
        spark, t,
        spark.createDataFrame([(201, _emb(201))], "id long, embedding array<double>"),
    )
    live = VER.read_bucketed(spark, t)
    want2 = _brute_topk(spark, live, q, 5)
    assert hnsw_serve("hnsw") == want2 and sq_serve() == want2
    # clone consolidates BOTH remaining indexes' artifacts under v=0
    t2 = str(tmp_path / "multi_clone")
    VER.clone_table(t, t2)
    got_c = [
        (r["vec_id"], r["score"])
        for r in IDX.indexed_hnsw_topk(spark, t2, q, k=5, ef=None).collect()
    ]
    got_c2 = [
        (r["vec_id"], r["score"])
        for r in IDX.indexed_ivfsq_topk(
            spark, t2, q, k=5, nprobe=4, candidates=500
        ).collect()
    ]
    assert got_c == want2 and got_c2 == want2


def test_r12_sql_insert_maintains_index(spark, tmp_path):
    """History: round 12 REFUSED SQL INSERT on indexed tables (the
    commit worker has no SparkSession to rebuild shards); round 13
    lifts it — the worker rebuilds shards Spark-free (indexed_np). What
    the r12 regression actually protected — an insert must NEVER commit
    data without maintaining the co-committed shards — now locks the
    positive path: post-insert, the index matches the table."""
    from semantic_index_spark.sources import indexed as IDX
    from semantic_index_spark.sources import versioned as VER
    from semantic_index_spark.sources import versioned_batch as VB

    t = str(tmp_path / "ins_idx")
    rows = [(i, _emb(i)) for i in range(40)]
    VER.create_bucketed(
        spark.createDataFrame(rows, "id long, embedding array<double>"),
        t, ["id"], n_buckets=4,
    )
    IDX.attach_hnsw_index(spark, t, m=4, ef_construction=16)
    VB.sql_view(spark, "ins_idx_v", t)
    spark.sql("INSERT INTO ins_idx_v VALUES (100, array(1.0D, 2.0D, 3.0D))")
    live = VER.read_bucketed(spark, t)
    assert live.count() == 41
    q = _emb(3)
    got = [
        (r["vec_id"], r["score"])
        for r in IDX.indexed_hnsw_topk(spark, t, q, k=5, ef=None).collect()
    ]
    assert got == _brute_topk(spark, live, q, 5)
    # the shard map advanced for exactly the inserted key's bucket
    man = VER._read_manifest(t)
    owners = set(VER._indexes(man)["hnsw"]["shards"].values())
    assert man["version"] in owners and len(owners) > 1


def test_r13_string_xxhash64_bit_exact(spark):
    """Round 13 string-key lane, the load-bearing invariant: the
    masked-numpy XXH64 over UTF-8 strings must bit-match Spark's
    ``xxhash64(<string>)`` — the SQL writer's bucket placement and the
    pushed-filter prune would otherwise disagree with ``_bucket_expr``
    and silently lose rows."""
    import pyspark.sql.functions as F

    from semantic_index_spark.sources import versioned_batch as VB

    panel = (
        ["", "a", "ab", "abc", "abcd", "abcde", "abcdefg", "abcdefgh"]
        + ["x" * i for i in (9, 15, 16, 17, 31, 32, 33, 63, 64, 65, 100)]
        + ["héllo wörld", "日本語テキスト", "emoji 🙂🙃 mix", "doc-00017",
           "https://example.com/path?q=1", "ñ" * 40, "\tws \n", "k" * 1000]
    )
    rows = spark.createDataFrame([(s,) for s in panel], "s string").select(
        "s", F.xxhash64("s").alias("h")
    ).collect()
    expect = {r["s"]: r["h"] for r in rows}
    # all 64 bits (the SQL writer's batch routing and the prune share it)
    got = VB.xxhash64_np(panel, "string")
    assert [int(x) for x in got] == [expect[s] for s in panel]
    # bucket assignment agrees with Spark's _bucket_expr end-to-end
    sp = spark.createDataFrame([(s,) for s in panel], "s string").selectExpr(
        "s", "cast(pmod(xxhash64(s), 7) as int) AS b"
    ).collect()
    np_b = VB.buckets_np(panel, "string", 7)
    by_s = dict(zip(panel, [int(b) for b in np_b]))
    for r in sp:
        assert by_s[r["s"]] == r["b"], r
        assert VB._bucket_of(r["s"], "string", 7) == r["b"], r


def test_r13_string_key_sql_lane(spark, tmp_path):
    """Round 13: a STRING-keyed (doc-id) bucketed table gets the full SQL
    front door — INSERT-as-MERGE through the shared OCC publish, pushed
    =/IN filter bucket pruning, DV folding — previously integral-only."""
    import pyspark.sql.functions as F
    from pyspark.sql.datasource import EqualTo, In

    from semantic_index_spark.sources import versioned as VER
    from semantic_index_spark.sources import versioned_batch as VB

    t = str(tmp_path / "strkey")
    base = spark.range(0, 60).selectExpr(
        "concat('doc-', lpad(cast(id AS string), 5, '0')) AS doc_id",
        "id * 2 AS val",
    )
    VER.create_bucketed(base, t, ["doc_id"], n_buckets=8)
    VER.delete_bucketed(
        spark, t, spark.createDataFrame([("doc-00003",)], "doc_id string")
    )
    VB.sql_view(spark, "strk", t)
    # upsert: update doc-00010, insert doc-99999; DV-deleted key resurrects
    spark.sql(
        "INSERT INTO strk VALUES ('doc-00010', 111), ('doc-99999', 222), "
        "('doc-00003', 333)"
    )
    cur = {r["doc_id"]: r["val"] for r in VER.read_bucketed(spark, t).collect()}
    assert cur["doc-00010"] == 111 and cur["doc-99999"] == 222
    assert cur["doc-00003"] == 333 and cur["doc-00011"] == 22
    assert len(cur) == 61  # 60 - 1 deleted + re-insert + 1 new
    # pushed-filter bucket pruning: = and IN plan a strict file subset
    man = VER._read_manifest(t)
    sch = spark.table("strk").schema
    full = VB.VersionedTableReader(sch, t, man["version"]).partitions()
    pruned = VB.VersionedTableReader(sch, t, man["version"])
    pruned.pushFilters([EqualTo(("doc_id",), "doc-00010")])
    assert 0 < len(pruned.partitions()) < len(full)
    multi = VB.VersionedTableReader(sch, t, man["version"])
    multi.pushFilters([In(("doc_id",), ("doc-00001", "doc-99999"))])
    assert 0 < len(multi.partitions()) < len(full)
    # and the pruned SQL read returns exactly the right rows (rebind:
    # reads pin the version at first resolution — snapshot isolation)
    VB.sql_view(spark, "strk", t)
    got = spark.sql(
        "SELECT doc_id, val FROM strk "
        "WHERE doc_id IN ('doc-00001', 'doc-99999') ORDER BY doc_id"
    ).collect()
    assert [(r["doc_id"], r["val"]) for r in got] == [
        ("doc-00001", 2), ("doc-99999", 222)
    ]
    # time travel intact across the SQL commit
    assert VER.read_bucketed(spark, t, version=0).count() == 60


def test_r13_string_key_ivfsq_index(spark, tmp_path):
    """Round 13: the co-committed IVF-SQ8 index attaches to a STRING-keyed
    table (codes carry vec_id as an opaque payload), merges maintain its
    shards, and the exhaustive serve equals brute force over string ids;
    HNSW keeps the integral boundary with an error naming the ivfsq
    alternative."""
    import pytest

    from semantic_index_spark.operators import similarity as S
    from semantic_index_spark.sources import indexed as IDX
    from semantic_index_spark.sources import versioned as VER

    t = str(tmp_path / "stridx")
    rows = [(f"doc-{i:05d}", _emb(i)) for i in range(60)]
    VER.create_bucketed(
        spark.createDataFrame(rows, "doc_id string, embedding array<double>"),
        t, ["doc_id"], n_buckets=4,
    )
    with pytest.raises(ValueError, match="attach_ivfsq_index"):
        IDX.attach_hnsw_index(spark, t, m=4, ef_construction=16)
    IDX.attach_ivfsq_index(spark, t, n_cells=4, seed=11)
    # a merge rewrites buckets AND re-encodes their shards in one commit
    VER.merge_into_bucketed(
        spark, t,
        spark.createDataFrame(
            [("doc-00005", _emb(500)), ("doc-90000", _emb(900))],
            "doc_id string, embedding array<double>",
        ),
    )
    VER.delete_bucketed(
        spark, t, spark.createDataFrame([("doc-00007",)], "doc_id string")
    )
    live = VER.read_bucketed(spark, t)
    q = _emb(500)
    got = [
        (r["vec_id"], r["score"])
        for r in IDX.indexed_ivfsq_topk(
            spark, t, q, k=5, nprobe=4, candidates=70
        ).collect()
    ]
    brute = [
        (r["vec_id"], r["score"])
        for r in S.topk(
            live.selectExpr("doc_id AS vec_id", "embedding"), q, k=5
        ).collect()
    ]
    assert got == brute
    assert all(isinstance(v, str) for v, _ in got)
    # DV-deleted id never ranks (tombstone contract via rescore join)
    assert "doc-00007" not in {v for v, _ in got}


def test_r13_indexed_table_ivfpq_lifecycle(spark, tmp_path, monkeypatch):
    """Round 13 (VERDICT r12 task #3): IVF-PQ as the THIRD co-committed
    index kind — frozen per-subspace codebooks + centroids IN the
    manifest params, long-form (vec_id, sub, code) shards under
    ``__idx_<name>/shard=<b>/_cell=<c>``. Same contract as the other
    kinds: merges rebuild affected shards in their own commit, time
    travel serves each version from its own artifacts, DV deletes drop
    at the rescore join, string keys ride."""
    import pytest

    from semantic_index_spark.sources import indexed as IDX
    from semantic_index_spark.sources import versioned as VER

    t = str(tmp_path / "ivfpq_t")
    rows = [(i, _emb(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    VER.create_bucketed(df, t, ["id"], n_buckets=4)
    v_attach = IDX.attach_ivfpq_index(spark, t, m_sub=3, pq_k=8, n_cells=4)
    q = _emb(5)

    def serve(version=None, k=5):
        # nprobe = all cells + candidate slack ⇒ exhaustive-exact
        return [
            (r["vec_id"], r["score"])
            for r in IDX.indexed_ivfpq_topk(
                spark, t, q, k=k, nprobe=4, candidates=500, version=version
            ).collect()
        ]

    before = serve()
    assert before == _brute_topk(spark, df, q, 5)
    # merge rebuilds only the affected shards, re-encoding against the
    # FROZEN codebooks; time travel serves the attach version unchanged
    src = spark.createDataFrame(
        [(5, _emb(900)), (300, _emb(300))], "id long, embedding array<double>"
    )
    VER.merge_into_bucketed(spark, t, src)
    merged = VER.read_bucketed(spark, t)
    assert serve() == _brute_topk(spark, merged, q, 5)
    man = VER._read_manifest(t)
    assert set(VER._indexes(man)["ivfpq"]["shards"].values()) > {v_attach}
    assert serve(version=v_attach) == before
    # DV delete: serve drops the dead id at the rescore join, no rebuild
    VER.delete_bucketed(spark, t, spark.createDataFrame([(5,)], "id long"))
    got_dv = serve()
    assert got_dv == _brute_topk(spark, VER.read_bucketed(spark, t), q, 5)
    assert all(v != 5 for v, _ in got_dv)
    # crash sim (per the existing kinds' shape): staged data + staged
    # codes written, publish never runs → reader sees OLD table + OLD
    # index together, never one without the other
    class _Boom(RuntimeError):
        pass

    def explode(*a, **k):
        raise _Boom("crash before publish")

    src2 = spark.createDataFrame(
        [(7, _emb(901))], "id long, embedding array<double>"
    )
    with monkeypatch.context() as m:
        m.setattr(VER, "_publish_bucketed", explode)
        with pytest.raises(_Boom):
            VER.merge_into_bucketed(spark, t, src2)
    assert serve() == _brute_topk(spark, VER.read_bucketed(spark, t), q, 5)
    # the embedding column guard covers this kind too; detach by name
    with pytest.raises(ValueError, match="embedding column"):
        VER.drop_column(t, "embedding")
    IDX.detach_index(t, "ivfpq")
    assert not VER._indexes(VER._read_manifest(t))
    # string keys ride the pq kind (codes carry vec_id opaquely)
    ts = str(tmp_path / "ivfpq_str")
    srows = [(f"doc-{i:04d}", _emb(i)) for i in range(60)]
    VER.create_bucketed(
        spark.createDataFrame(srows, "k string, embedding array<double>"),
        ts, ["k"], n_buckets=4,
    )
    IDX.attach_ivfpq_index(spark, ts, m_sub=3, pq_k=8, n_cells=4)
    from semantic_index_spark.operators import similarity as S

    got = [
        (r["vec_id"], r["score"])
        for r in IDX.indexed_ivfpq_topk(
            spark, ts, q, k=5, nprobe=4, candidates=500
        ).collect()
    ]
    brute = [
        (r["vec_id"], r["score"])
        for r in S.topk(
            VER.read_bucketed(spark, ts).selectExpr("k AS vec_id", "embedding"),
            q, k=5,
        ).collect()
    ]
    assert got == brute and all(isinstance(v, str) for v, _ in got)


def test_r13_sql_insert_indexed_tables(spark, tmp_path, monkeypatch):
    """Round 13 (VERDICT r12 task #4): ``INSERT INTO`` works on tables
    with co-committed indexes — the commit worker rebuilds every index's
    affected shards Spark-free (``indexed_np``: bit-exact numpy twins of
    the Spark encoders + the shared pure-Python HNSW builder). Locked
    here: (1) all three kinds' exhaustive serves equal brute force after
    a pure-SQL upsert; (2) the worker-built shard FILES are row-identical
    to a Spark-side merge's rebuild of the same upsert (twin-table
    comparison — the bit-exactness claim, not just serve agreement);
    (3) the crash window: a commit that dies before publish leaves
    table + indexes at the old version together."""
    import os

    import pytest

    from semantic_index_spark.sources import indexed as IDX
    from semantic_index_spark.sources import versioned as VER
    from semantic_index_spark.sources import versioned_batch as VB

    def mk(path):
        rows = [(i, _emb(i)) for i in range(60)]
        VER.create_bucketed(
            spark.createDataFrame(rows, "id long, embedding array<double>"),
            path, ["id"], n_buckets=4,
        )
        IDX.attach_hnsw_index(spark, path, m=4, ef_construction=16)
        IDX.attach_ivfsq_index(spark, path, n_cells=4)
        IDX.attach_ivfpq_index(spark, path, m_sub=3, pq_k=8, n_cells=4)
        # an outstanding DV in a bucket the insert will rewrite: the
        # worker-side merge must fold it exactly like merge_into_bucketed
        VER.delete_bucketed(
            spark, path, spark.createDataFrame([(3,)], "id long")
        )

    t = str(tmp_path / "sqlidx")
    mk(t)
    VB.sql_view(spark, "sqlidx_v", t)
    ins = "(5, array(9.0D, 9.0D, 9.0D)), (300, array(1.0D, 0.5D, 2.0D)), " \
          "(3, array(4.0D, 4.0D, 4.0D))"
    spark.sql(f"INSERT INTO sqlidx_v VALUES {ins}")
    live = VER.read_bucketed(spark, t)
    assert {r["id"] for r in live.select("id").collect()} >= {5, 300, 3}
    q = _emb(5)
    brute = _brute_topk(spark, live, q, 6)
    got_h = [
        (r["vec_id"], r["score"])
        for r in IDX.indexed_hnsw_topk(spark, t, q, k=6, ef=None).collect()
    ]
    got_s = [
        (r["vec_id"], r["score"])
        for r in IDX.indexed_ivfsq_topk(
            spark, t, q, k=6, nprobe=4, candidates=500
        ).collect()
    ]
    got_p = [
        (r["vec_id"], r["score"])
        for r in IDX.indexed_ivfpq_topk(
            spark, t, q, k=6, nprobe=4, candidates=500
        ).collect()
    ]
    assert got_h == brute and got_s == brute and got_p == brute
    # --- bit-exactness: twin table, same upsert via the SPARK verb ---
    t2 = str(tmp_path / "sqlidx_twin")
    mk(t2)
    VER.merge_into_bucketed(
        spark, t2,
        spark.createDataFrame(
            [(5, [9.0, 9.0, 9.0]), (300, [1.0, 0.5, 2.0]),
             (3, [4.0, 4.0, 4.0])],
            "id long, embedding array<double>",
        ),
    )
    man_a, man_b = VER._read_manifest(t), VER._read_manifest(t2)
    for kind, cols in (
        ("hnsw", ["shard", "id", "embedding", "max_level", "neighbors"]),
        ("ivfsq", ["shard", "_cell", "vec_id", "codes"]),
        ("ivfpq", ["shard", "_cell", "vec_id", "sub", "code"]),
    ):
        a = IDX._read_index_shards(
            spark, t, man_a, IDX._resolve_index(man_a, None, kind)
        )
        b = IDX._read_index_shards(
            spark, t2, man_b, IDX._resolve_index(man_b, None, kind)
        )
        ra = sorted(tuple(r) for r in a.select(*cols).collect())
        rb = sorted(tuple(r) for r in b.select(*cols).collect())
        assert ra == rb, f"{kind} shards differ between SQL and Spark builds"
    # --- crash window: die before publish, nothing moves ---
    ver_before = VER.current_version(t)
    man = VER._read_manifest(t)
    writer = VB.BucketedMergeWriter(t, man, VER._staged_path(t))
    os.makedirs(writer.staged)
    import pyarrow as pa

    batch = pa.table(
        {"id": pa.array([7], pa.int64()),
         "embedding": pa.array([[8.0, 8.0, 8.0]], pa.list_(pa.float64()))}
    ).to_batches()
    msgs = [writer.write(iter(batch))]

    class _Boom(RuntimeError):
        pass

    def explode(*a, **k):
        raise _Boom("crash before publish")

    with monkeypatch.context() as m:
        m.setattr(VER, "_publish_bucketed", explode)
        with pytest.raises(_Boom):
            writer.commit(msgs)
    assert VER.current_version(t) == ver_before
    assert [
        (r["vec_id"], r["score"])
        for r in IDX.indexed_hnsw_topk(spark, t, q, k=6, ef=None).collect()
    ] == brute


def _indexed_table(spark, path, dtype="double"):
    """A 4-bucket table carrying one co-committed index of each kind."""
    from semantic_index_spark.sources import indexed as IDX
    from semantic_index_spark.sources import versioned as VER

    VER.create_bucketed(
        spark.createDataFrame(
            [(i, _emb(i)) for i in range(60)],
            f"id long, embedding array<{dtype}>",
        ),
        path, ["id"], n_buckets=4,
    )
    IDX.attach_hnsw_index(spark, path, m=4, ef_construction=16)
    IDX.attach_ivfsq_index(spark, path, n_cells=4)
    IDX.attach_ivfpq_index(spark, path, m_sub=3, pq_k=8, n_cells=4)


def _tree_bytes(root):
    import os

    out = {}
    for dp, _, fns in os.walk(root):
        for fn in fns:
            p = os.path.join(dp, fn)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def test_table_index_codes_match_standalone_encoders(spark, tmp_path):
    """Table shards are built by ``indexed_np``; the standalone query
    rows and their DuckDB oracles encode with ``ivf_assign`` +
    ``sq_encode`` / ``pq_encode`` and build graphs with ``build_hnsw``.
    The two must agree row for row — cell, codes and shard; graph node,
    level and adjacency — after an attach AND after a merge re-encodes
    rewritten buckets, on both sides of ``ivf_assign``'s k ≤ 16
    (expression fold) / k > 16 (matmul) split, over float32 embeddings
    that both sides widen to double."""
    import numpy as np

    from semantic_index_spark.operators import hnsw as H
    from semantic_index_spark.operators import similarity as S
    from semantic_index_spark.sources import indexed as IDX
    from semantic_index_spark.sources import versioned as VER

    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((160, 8)).astype(np.float32)
    t = str(tmp_path / "parity")
    VER.create_bucketed(
        spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(150)],
            "id long, embedding array<float>",
        ),
        t, ["id"], n_buckets=4,
    )
    IDX.attach_ivfsq_index(spark, t, n_cells=4, name="sq")
    IDX.attach_ivfsq_index(spark, t, n_cells=20, name="sq_wide")
    IDX.attach_ivfpq_index(spark, t, m_sub=4, pq_k=8, n_cells=4, name="pq")
    IDX.attach_ivfpq_index(spark, t, m_sub=2, pq_k=8, n_cells=20, name="pq_wide")
    IDX.attach_hnsw_index(spark, t, m=4, ef_construction=16, seed=3, name="hn")

    def check():
        man = VER._read_manifest(t)
        rows = VER.read_bucketed(spark, t).selectExpr(
            "id AS vec_id", "embedding"
        ).withColumn("shard", VER._bucket_expr(["vec_id"], 4))
        for name, spec in VER._indexes(man).items():
            p = spec["params"]
            if p["kind"] == "hnsw":
                cols = ["id", "embedding", "max_level", "neighbors", "shard"]
                want = H.build_hnsw(
                    rows, n_shards=4, m=p["m"],
                    ef_construction=p["ef_construction"], seed=p["seed"],
                ).select(*cols)
            else:
                cells = S.ivf_assign(rows, p["centroids"]).select(
                    "vec_id", "_cell", "shard"
                )
                if p["kind"] == "ivfsq":
                    cols = ["vec_id", "codes", "_cell", "shard"]
                    enc = S.sq_encode(rows, p["model"])
                else:
                    cols = ["vec_id", "sub", "code", "_cell", "shard"]
                    enc = S.pq_encode(rows, p["codebooks"])
                want = enc.join(cells, "vec_id").select(*cols)
            got = IDX._read_index_shards(spark, t, man, (name, spec)).select(*cols)
            assert sorted(tuple(r) for r in got.collect()) == sorted(
                tuple(r) for r in want.collect()
            ), name

    check()
    VER.merge_into_bucketed(
        spark, t,
        spark.createDataFrame(
            [(i, [float(x) for x in vecs[159 - i]]) for i in range(0, 160, 8)],
            "id long, embedding array<float>",
        ),
    )
    check()


def test_merge_emptying_bucket_clears_every_index_shard(spark, tmp_path):
    """A merge that deletes every row of a bucket leaves no shard to
    build: the bucket's owner AND every index's shard owner for it
    become None in the same commit, and every serve still equals brute
    force over what is left."""
    import pyspark.sql.functions as F

    from semantic_index_spark.sources import indexed as IDX
    from semantic_index_spark.sources import versioned as VER

    t = str(tmp_path / "empty_bucket")
    _indexed_table(spark, t)
    doomed = VER.read_bucketed(spark, t).filter(
        VER._bucket_expr(["id"], 4) == F.lit(0)
    )
    assert doomed.count() > 0
    v = VER.merge_into_bucketed(spark, t, doomed, when_matched="delete")
    man = VER._read_manifest(t)
    assert man["version"] == v and man["buckets"]["0"] is None
    for name, spec in VER._indexes(man).items():
        assert spec["shards"]["0"] is None, name
        assert all(
            spec["shards"][str(b)] is not None for b in (1, 2, 3)
        ), name
    live = VER.read_bucketed(spark, t)
    q = _emb(5)
    want = _brute_topk(spark, live, q, 5)
    assert [
        (r["vec_id"], r["score"])
        for r in IDX.indexed_hnsw_topk(spark, t, q, k=5, ef=None).collect()
    ] == want
    for serve in (IDX.indexed_ivfsq_topk, IDX.indexed_ivfpq_topk):
        assert [
            (r["vec_id"], r["score"])
            for r in serve(spark, t, q, k=5, nprobe=4, candidates=500).collect()
        ] == want


def test_grouped_shard_pass_is_retry_safe(spark, tmp_path):
    """The grouped pass writes each bucket's data file and its index
    shards under fixed file names from rows sorted by key, so running it
    twice into one staged directory — as a retried task would, here with
    the rows arriving in a different partition layout — leaves
    byte-identical files."""
    from semantic_index_spark.sources import indexed as IDX
    from semantic_index_spark.sources import versioned as VER

    t = str(tmp_path / "retry")
    _indexed_table(spark, t, dtype="float")
    man = VER._read_manifest(t)
    rows = VER.read_bucketed(spark, t)
    staged = str(tmp_path / "staged")
    IDX._write_shards(rows, man, VER._indexes(man), staged, range(4), data=True)
    first = _tree_bytes(staged)
    assert sorted(p for p in first if p.startswith("__bucket=")) == [
        f"__bucket={b}/part-00000.parquet" for b in range(4)
    ]
    assert any(p.startswith("__idx_") for p in first)
    IDX._write_shards(
        rows.repartition(7), man, VER._indexes(man), staged, range(4),
        data=True,
    )
    assert _tree_bytes(staged) == first


def test_merge_writes_one_file_per_index_leaf(spark, tmp_path):
    """A merge and an OPTIMIZE on an indexed table write exactly one data
    file per rewritten bucket, one file per (index, shard) for HNSW and
    per (index, shard, cell) for the IVF kinds — no per-task fan-out and
    no writer sidecars — and only for the buckets the commit rewrote. A
    z-ordered OPTIMIZE writes each bucket's rows in Morton-key order."""
    import os

    from semantic_index_spark.sources import versioned as VER

    t = str(tmp_path / "one_file")
    _indexed_table(spark, t)
    src = spark.createDataFrame(
        [(i, _emb(i + 500)) for i in (3, 200, 201)],
        "id long, embedding array<double>",
    )
    v = VER.merge_into_bucketed(spark, t, src)
    man = VER._read_manifest(t)
    rewritten = {b for b, owner in man["buckets"].items() if owner == v}
    assert rewritten
    _assert_one_file_per_leaf(t, v, man, rewritten)
    VER.delete_bucketed(spark, t, spark.createDataFrame([(5,), (6,)], "id long"))
    v = VER.optimize_bucketed(spark, t, zorder_by=[("id", 0.0, 256.0)])
    man = VER._read_manifest(t)
    rewritten = {b for b, owner in man["buckets"].items() if owner == v}
    assert rewritten and not man.get("dv")
    _assert_one_file_per_leaf(t, v, man, rewritten)
    import pyarrow.parquet as pq

    for b in rewritten:
        ids = pq.read_table(
            os.path.join(t, f"v={v}", f"__bucket={b}", "part-00000.parquet")
        ).column("id").to_pylist()
        assert ids == sorted(ids) and 5 not in ids and 6 not in ids


def _assert_one_file_per_leaf(t, v, man, rewritten):
    import os

    from semantic_index_spark.sources import versioned as VER

    vdir = os.path.join(t, f"v={v}")
    assert sorted(os.listdir(vdir)) == sorted(
        [f"__bucket={b}" for b in rewritten]
        + [f"__idx_{name}" for name in VER._indexes(man)]
    )
    for b in rewritten:
        assert os.listdir(os.path.join(vdir, f"__bucket={b}")) == [
            "part-00000.parquet"
        ]
    for name, spec in VER._indexes(man).items():
        root = os.path.join(t, f"v={v}", f"__idx_{name}")
        shards = sorted(os.listdir(root))
        assert shards == sorted(f"shard={b}" for b in rewritten), name
        assert {
            b for b, owner in spec["shards"].items() if owner == v
        } == rewritten
        for sd in shards:
            leaves = [os.path.join(root, sd)]
            if spec["params"]["kind"] != "hnsw":
                cells = os.listdir(leaves[0])
                assert cells and all(c.startswith("_cell=") for c in cells)
                leaves = [os.path.join(leaves[0], c) for c in cells]
            for leaf in leaves:
                assert os.listdir(leaf) == ["part-00000.parquet"], leaf



def test_murmur3_long_np_matches_spark_hash(spark):
    """The numpy Murmur3 that places buckets on tasks is Spark's
    ``hash()`` of a long, bit for bit, on edge and random longs."""
    import numpy as np
    import pyspark.sql.functions as F

    from semantic_index_spark.sources import versioned_batch as VB

    rng = np.random.default_rng(3)
    panel = [0, 1, -1, 2, -2, 2**63 - 1, -(2**63 - 1), -(2**63),
             2**31 - 1, -(2**31), 2**32, 2**32 - 1, 42]
    panel += rng.integers(-(2**63), 2**63 - 1, 200, dtype=np.int64).tolist()
    rows = spark.createDataFrame([(v,) for v in panel], "x long").select(
        "x", F.hash("x").alias("h")
    ).collect()
    got = VB.murmur3_long_np([r["x"] for r in rows])
    assert [int(h) for h in got] == [r["h"] for r in rows]


def test_partition_keys_give_each_bucket_its_own_task(spark):
    """The bucket → partition-key map is a bijection onto the partitions
    of ``repartition(n)``: rank i lands in partition i for every n from
    1 to 64 and for random bucket subsets up to 4,096, and Spark places
    the keys where the numpy hash says."""
    import numpy as np

    from semantic_index_spark.sources import indexed as IDX
    from semantic_index_spark.sources import versioned_batch as VB

    def placed(part_of):
        keys = [part_of[b] for b in sorted(part_of)]
        return (VB.murmur3_long_np(keys).astype(np.int64) % len(keys)).tolist()

    for n in range(1, 65):
        assert placed(IDX._partition_keys(range(n))) == list(range(n)), n
    rng = np.random.default_rng(9)
    for size in (2, 17, 500, 4096):
        buckets = rng.choice(65536, size, replace=False).tolist()
        assert placed(IDX._partition_keys(buckets)) == list(range(size)), size
    part_of = IDX._partition_keys([3, 9, 10, 42, 77])
    df = spark.createDataFrame(
        sorted(part_of.items()), "b long, k long"
    ).repartition(5, "k")
    assert df.rdd.glom().map(lambda rs: [r["b"] for r in rs]).collect() == [
        [3], [9], [10], [42], [77]
    ]


def test_merge_and_optimize_release_their_pins(spark, tmp_path):
    """MERGE and OPTIMIZE on an indexed table pin their inputs for the
    commit only: no persisted RDD outlives the call."""
    from semantic_index_spark.sources import versioned as VER

    def n_persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    t = str(tmp_path / "pins")
    _indexed_table(spark, t)
    before = n_persisted()
    VER.merge_into_bucketed(
        spark, t,
        spark.createDataFrame(
            [(i, _emb(i + 500)) for i in (3, 200)], "id long, embedding array<double>"
        ),
    )
    assert n_persisted() <= before
    VER.delete_bucketed(spark, t, spark.createDataFrame([(5,)], "id long"))
    before = n_persisted()
    VER.optimize_bucketed(spark, t)
    assert n_persisted() <= before

def test_r13_sql_view_broadcast_hint(spark, tmp_path):
    """Round 13 (VERDICT r12 missing #4): the Python DataSource API has
    no statistics hook, so a versioned view reports unknown size
    (Long.MaxValue) and the static planner never auto-broadcasts it —
    locked here in BOTH directions: (a) a small versioned dim joined to
    a big fact plans a SortMergeJoin (no silent broadcast of an
    unknown-size relation — the safe scale default), and (b) the
    documented ``/*+ BROADCAST(v) */`` recipe flips it to a
    BroadcastHashJoin."""
    from semantic_index_spark.sources import versioned as VER
    from semantic_index_spark.sources import versioned_batch as VB

    t = str(tmp_path / "dim")
    VER.create_bucketed(
        spark.range(0, 200).selectExpr("id", "id % 7 AS grp"),
        t, ["id"], n_buckets=4,
    )
    VB.sql_view(spark, "bh_dim", t)
    # the view's reported size is "unknown" — the no-stats-hook reality
    assert (
        spark.table("bh_dim")
        ._jdf.queryExecution()
        .optimizedPlan()
        .stats()
        .sizeInBytes()
        == (1 << 63) - 1
    )
    spark.range(0, 2_000_000).selectExpr(
        "id % 1000 AS fk", "repeat('y', 40) AS pad"
    ).createOrReplaceTempView("bh_fact")
    q = "SELECT f.fk, count(*) AS c FROM bh_fact f JOIN bh_dim d ON f.fk = d.id GROUP BY f.fk"
    unhinted = (
        spark.sql(q)._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" in unhinted and "BroadcastHashJoin" not in unhinted
    hinted = (
        spark.sql(q.replace("SELECT f.fk", "SELECT /*+ BROADCAST(d) */ f.fk"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in hinted and "SortMergeJoin" not in hinted
    # and the hinted join is CORRECT (hint changes strategy, not rows)
    got = {
        (r["fk"], r["c"])
        for r in spark.sql(
            q.replace("SELECT f.fk", "SELECT /*+ BROADCAST(d) */ f.fk")
        ).collect()
    }
    assert got == {(fk, 2000) for fk in range(200)}


def test_r13_vacuum_report_dry_run(spark, tmp_path):
    """Round 13 (VERDICT r12 #9): ``vacuum_report`` is the dry-run twin
    of ``expire_bucketed`` — it reports kept/live/reclaimable versions,
    reclaimable bytes, and aged staged orphans WITHOUT mutating
    anything, and must agree with what expire_bucketed then actually
    reclaims."""
    import os
    import time

    from semantic_index_spark.sources import versioned as VER

    t = str(tmp_path / "vac")
    VER.create_bucketed(
        spark.range(0, 40).selectExpr("id", "id AS v"), t, ["id"], n_buckets=4
    )
    # two full-rewrite merges: every bucket's ownership advances, so v0
    # and v1 become fully unreferenced under keep_manifests=2
    for bump in (100, 200):
        VER.merge_into_bucketed(
            spark, t,
            spark.range(0, 40).selectExpr("id", f"id + {bump} AS v"),
        )
    # a crashed writer's staged dir, aged past the TTL
    orphan = VER._staged_path(t)
    os.makedirs(orphan)
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    rep = VER.vacuum_report(t, keep_manifests=2, orphan_ttl_seconds=3600)
    assert rep["kept"] == [1, 2] and rep["reclaimable"] == [0]
    assert rep["live"] == [1, 2] and rep["reclaimable_bytes"] > 0
    assert len(rep["staged_orphans"]) == 1
    assert rep["staged_orphans"][0]["age_seconds"] >= 3600
    # a YOUNG staged dir is an in-flight commit, never an orphan
    assert VER.vacuum_report(t, orphan_ttl_seconds=86400)["staged_orphans"] == []
    # dry run: nothing moved, reads unaffected
    assert os.path.isdir(os.path.join(t, "v=0")) and os.path.isdir(orphan)
    assert VER.read_bucketed(spark, t, version=0).count() == 40
    got = {r["id"]: r["v"] for r in VER.read_bucketed(spark, t).collect()}
    assert got[0] == 200
    # the report agrees with what expire_bucketed actually reclaims
    reclaimed = VER.expire_bucketed(t, keep_manifests=2, orphan_ttl_seconds=3600)
    assert reclaimed == rep["reclaimable"]
    assert not os.path.isdir(orphan)
    after = VER.vacuum_report(t, keep_manifests=2, orphan_ttl_seconds=3600)
    assert after["reclaimable"] == [] and after["staged_orphans"] == []
    assert after["kept"] == [1, 2]


def _manifest_sha(man: dict) -> str:
    import hashlib

    return hashlib.sha256(json.dumps(man, sort_keys=True).encode()).hexdigest()


# sha256 of json.dumps(manifest, sort_keys=True) for every manifest the
# scripted lifecycle below writes, in commit order
LIFECYCLE_MANIFEST_SHA = [
    "aa054ed28e3893be17a319ec4bc3a3167761ca9875c6e2ec707f45f3fca03c5c",
    "97ddbb0432a6c5c979c9c461c9cb157ee2edb085f69177c74f21e646254adff6",
    "b6fad19d049c6831d923aec0b3b3d711d6e547a2c2eaacf1b84ccbd39956fccd",
    "3e1f1555f88349643619d5ea2bf7320d1fedd094b2afddf249d0bd75407e5240",
    "00ef1be3199549185b95fb1df62daeb4dc1cd4be5a1f30c17878d37f3d37f55e",
    "251f5aed3d65f25a56679ac2c9e4a6107524275616cabe7b16c497dd8e6eed5d",
    "765147a63e1e6d2378cada419682b757a36fa157c9ac5ee74a6de880aa5eedb4",
    "90aa1abd2e54f791a560921010b484b8f3614b6f48357d8466ec607669f76ce7",
    "f5b95b8e51a9b513e8ec82cfebe980671fd67e4113c1d84d0282c0bf5764eaa6",
    "fa585e9b2aeebd994851ee5b864687c14aa8b31984b694ade18de3482b7b833c",
    "45e134ad294d5f77b8b96e4cb4abda43afa897cfa1f68b79dc87791306a427d0",
    "ee95612d3d72d56f0617d231659c49c331df1b74f0873a7ad89d02fbcfa47cf0",
    "b66fab4e8389b51b911225f0234212be25712f4f46255210d0f7888cb98c31ef",
    "721a620845644f21c90ef362af4fe8492d41d0e2fa7942a05a3dd6e71d3c1b9c",
    "c3ae91bae1d9014f3f94aa95eaf893557d652daf1ef752c1b65f3a5d9f749604",
    "08ad69c72f31fb0c8eb0da1b9abe2cda6a03df25606537cac678a280bc7107e3",
    "5dfb58d931d0f4878b3c097febb7d30b5334e92f446654564fee4d2e03adad30",
]


def test_lifecycle_manifests_match_golden(spark, tmp_path):
    """One scripted bucketed-table lifecycle — create with a constraint,
    three co-committed indexes, merge, delete, OPTIMIZE, the metadata
    verbs, SQL ``INSERT INTO``, restore, detach and clone — writes exactly
    the manifests recorded in ``LIFECYCLE_MANIFEST_SHA``: every verb's
    manifest, key for key."""
    from semantic_index_spark.sources import indexed as IDX
    from semantic_index_spark.sources import versioned as VER
    from semantic_index_spark.sources import versioned_batch as VB

    t = str(tmp_path / "life")
    schema = "id long, embedding array<double>, val long, note string"
    df = spark.createDataFrame(
        [(i, _emb(i), i * 10, f"n{i}") for i in range(60)], schema
    )
    shas = []

    def seen(table=t):
        shas.append(_manifest_sha(VER._read_manifest(table)))

    VER.create_bucketed(
        df, t, ["id"], n_buckets=4, constraints={"val_pos": "val >= 0"}
    )
    seen()
    IDX.attach_hnsw_index(spark, t, m=4, ef_construction=16)
    seen()
    IDX.attach_ivfsq_index(spark, t, n_cells=4)
    seen()
    IDX.attach_ivfpq_index(spark, t, m_sub=3, pq_k=8, n_cells=4)
    seen()
    src = spark.createDataFrame(
        [(5, _emb(500), 1, "upd"), (70, _emb(70), 2, "new")], schema
    )
    v_merge = VER.merge_into_bucketed(spark, t, src, meta={"batch": 1})
    seen()
    VER.delete_bucketed(
        spark, t, spark.createDataFrame([(7,), (21,)], "id long"),
        meta={"op": "delete"},
    )
    seen()
    VER.optimize_bucketed(spark, t, meta={"op": "optimize"})
    seen()
    VER.add_constraint(spark, t, "id_nonneg", "id >= 0")
    seen()
    VER.drop_constraint(t, "val_pos")
    seen()
    VER.drop_constraint(t, "id_nonneg")
    seen()
    VER.rename_column(t, "val", "v2")
    seen()
    VER.drop_column(t, "note")
    seen()
    VB.sql_view(spark, "lifecycle_t", t)
    spark.sql(
        "INSERT INTO lifecycle_t SELECT id, array(CAST(id AS DOUBLE), 1.0D, "
        "2.0D) AS embedding, id AS v2 FROM range(58, 64)"
    )
    seen()
    VER.restore_bucketed(t, v_merge)
    seen()
    IDX.detach_index(t, "ivfpq")
    seen()
    VER.delete_bucketed(spark, t, spark.createDataFrame([(30,)], "id long"))
    seen()  # the clone renumbers a live deletion vector
    t2 = str(tmp_path / "life_clone")
    VER.clone_table(t, t2)
    seen(t2)
    assert shas == LIFECYCLE_MANIFEST_SHA


def test_unknown_manifest_key_rides_every_commit(spark, tmp_path):
    """A manifest key no verb knows about carries over through every later
    commit: each verb edits only the keys it means, on a copy of the
    manifest it lands on."""
    from semantic_index_spark.sources import indexed as IDX
    from semantic_index_spark.sources import versioned as VER

    t = str(tmp_path / "unknown_key")
    schema = "id long, embedding array<double>, val long, note string"
    VER.create_bucketed(
        spark.createDataFrame(
            [(i, _emb(i), i, "x") for i in range(40)], schema
        ),
        t, ["id"], n_buckets=4,
    )
    path = VER._manifest_path(t, VER.current_version(t))
    with open(path) as f:
        man = json.load(f)
    man["x_future"] = {"kept": [1, 2]}
    with open(path, "w") as f:
        json.dump(man, f)

    def carried():
        got = VER._read_manifest(t)
        assert got.get("x_future") == {"kept": [1, 2]}, got.keys()

    VER.merge_into_bucketed(
        spark, t, spark.createDataFrame([(3, _emb(300), 3, "y")], schema)
    )
    carried()
    VER.delete_bucketed(spark, t, spark.createDataFrame([(4,)], "id long"))
    carried()
    VER.optimize_bucketed(spark, t)
    carried()
    VER.add_constraint(spark, t, "val_pos", "val >= 0")
    carried()
    VER.drop_constraint(t, "val_pos")
    carried()
    VER.rename_column(t, "val", "v2")
    carried()
    VER.drop_column(t, "note")
    carried()
    IDX.attach_hnsw_index(spark, t, m=4, ef_construction=16)
    carried()
    VER.merge_into_bucketed(
        spark, t,
        spark.createDataFrame([(9, _emb(900), 9)], "id long, embedding array<double>, v2 long"),
    )
    carried()
    IDX.detach_index(t)
    carried()
