"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship brute-force KNN over sf0.001 embeddings (the
reference's one real query path, `SemanticDatabase.cs:268-308`).

``queries()`` — one named builder per implemented operator from SURVEY.md §2
(reference surface + north-star extensions); each takes (spark, sf_dir).

``oracle_sql()`` — DuckDB-equivalent ANSI SQL per query. All hash-sensitive
float aggregates are rounded identically on both sides; all portable hashes
are md5-derived (Spark ``conv(substr(md5(x),1,15),16,10)`` ==
DuckDB ``('0x'||substr(md5(x),1,15))::UBIGINT``); timestamps surface as
epoch seconds / year-month ints so session-timezone differences can't skew
the compare.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil
import sys
import tempfile
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pandas as pd  # module-level so pandas_udf can resolve postponed hints
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from semantic_index_spark.functions import sketch as SKT
from semantic_index_spark.functions import text as T
from semantic_index_spark.functions import vector as V
from semantic_index_spark.operators import dedup as D
from semantic_index_spark.operators import multimodal as M
from semantic_index_spark.operators import relational as R
from semantic_index_spark.operators import similarity as S
from semantic_index_spark.operators import skew as SK
from semantic_index_spark.operators import text_analysis as TA
from semantic_index_spark.operators import timeseries as TS
from semantic_index_spark.session import load_table, pin, pinned

# ---------------------------------------------------------------- constants

N_PLANES = 6  # 64 LSH buckets
PLANES = S.make_planes(N_PLANES, 64, seed=42)
IVF_K = 8  # centroids
CENTROIDS = S.make_centroids(IVF_K, 64, seed=11)
IVF_NPROBE = 2
KNN_K = 10
MINHASH_N = 4  # hashes; 1 row per band → 4 bands
SHINGLE_N = 3
SIMHASH_BITS = 16
JACCARD_THRESHOLD = 0.2
NEARDUP_COS = 0.25


@contextlib.contextmanager
def _scratch(prefix: str):
    """A fresh temporary directory for one builder call, removed (with
    everything written under it) when the block exits."""
    tmp = tempfile.mkdtemp(prefix=prefix)
    try:
        yield tmp
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# Session memo for artifacts several registry rows share: built once per
# (Spark applicationId, sf_dir, name) and reused. Keying by applicationId
# means a fresh session (driver restart, new bench run) never sees a stale
# plan or path. Frames are pinned eagerly by their builders so every
# consumer shares ONE materialization, and the pins made while building
# belong to the memo, not to the scope of the query that asked first;
# on-disk artifacts live under a _session_root removed at interpreter exit.
_SESSION_MEMO: dict[tuple[str, str, str], object] = {}


def _session_memo(spark: SparkSession, sf_dir: str, name: str, build: Callable):
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key not in _SESSION_MEMO:
        with pinned() as pins:
            _SESSION_MEMO[key] = build()
            pins.clear()
    return _SESSION_MEMO[key]


def _session_root(name: str) -> str:
    """A temporary directory that outlives the builder call (it backs a
    session memo) and is removed at interpreter exit."""
    root = tempfile.mkdtemp(prefix=f"{name}_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


# The banded MinHash-LSH candidate pairs over `documents` are consumed by
# five registry queries (minhash_lsh_pairs, leakage_safe_split, dup_degree,
# cross_source_dup, lsh_dedup_quality) with identical parameters. A real
# pipeline computes the pair artifact ONCE and derives every downstream view
# from it (dedup.py:136 documents the persisted `banded_signatures`
# contract); recomputing per-query was the round-6 bench's single biggest
# avoidable cost.
def shared_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _session_memo(
        spark,
        sf_dir,
        "lsh_pairs",
        lambda: D.minhash_lsh_pairs(
            load_table(spark, sf_dir, "documents"),
            num_hashes=MINHASH_N,
            bands=MINHASH_N,  # 1 row per band
            shingle_n=SHINGLE_N,
        ).transform(pin, "lsh_pairs", "eager"),
    )


def _duck_dot(a: str, b: str) -> str:
    """DuckDB dot product of two list columns, double-accumulated in array
    order — must mirror semantic_index_spark.functions.vector.dot."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


def _duck_plane_lit(p: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in p) + "]"


def _duck_signature(col: str) -> str:
    """DuckDB mirror of vector.hyperplane_signature over PLANES."""
    terms = []
    for i, p in enumerate(PLANES):
        terms.append(
            f"(CASE WHEN {_duck_dot(col, _duck_plane_lit(p))} > 0 "
            f"THEN {2**i}::BIGINT ELSE 0::BIGINT END)"
        )
    return "(" + " + ".join(terms) + ")"


def _duck_ivf_cell(col: str, centroids: list[list[float]] | None = None) -> str:
    """DuckDB mirror of similarity.ivf_assign: 0-based index of the
    max-dot centroid (first occurrence on ties, same as array_position)."""
    cents = CENTROIDS if centroids is None else centroids
    lst = "[" + ", ".join(_duck_dot(col, _duck_plane_lit(c)) for c in cents) + "]"
    return f"(list_indexof({lst}, list_aggregate({lst}, 'max')) - 1)"


def _duck_dist(col: str, c: list[float]) -> str:
    """DuckDB euclidean distance to a literal centroid, mirroring the
    Spark zip_with/aggregate fold in q_ivf_silhouette (same element
    order, double-cast before subtracting)."""
    lit = _duck_plane_lit(c)
    return (
        f"sqrt(list_sum(list_transform(list_zip({col}, {lit}), "
        "p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2]))))"
    )


# DuckDB mirrors of functions.text helpers (tokens use the same regex)
_DUCK_TOKENS = "regexp_split_to_array(lower(trim(text)), '\\s+')"
_DUCK_MD5_BIGINT = "(('0x' || substr(md5({expr}), 1, 15))::UBIGINT)::BIGINT"


def _duck_md5_bigint(expr: str) -> str:
    return _DUCK_MD5_BIGINT.format(expr=expr)


def _duck_shingles(tok_expr: str, n: int = SHINGLE_N) -> str:
    """DuckDB word n-gram list (mirrors functions.text.shingles)."""
    return (
        f"list_transform(generate_series(1, greatest(len({tok_expr}) - {n - 1}, 1)), "
        f"i -> array_to_string({tok_expr}[i:i+{n - 1}], ' '))"
    )


# ------------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: brute-force exact top-10 dot-product KNN over sf0.001
    embeddings, query = stored vector 0 (scan → project → top-k; compiles
    to TakeOrderedAndProject, SURVEY.md §3.1)."""
    sf_dir = "/root/testdata/sf0.001"
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return S.topk(emb, q, k=KNN_K)


# ----------------------------------------------------------------- queries


def q_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return S.topk(emb, q, k=KNN_K)


def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 1).select("embedding").collect()[0][0]
    return (
        emb.select(
            "vec_id",
            F.round(
                V.dot_literal("embedding", q)
                / (V.l2_norm("embedding") * V.l2_norm(F.lit([float(x) for x in q]).cast("array<double>"))),
                6,
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(KNN_K)
    )


def q_knn_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    return S.topk_multi(emb, queries, k=5)


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # grouped-map UDAF surface: per-label embedding centroid via
    # applyInPandas (one BLAS column-mean per group). Surfaced LONG-FORM
    # (label, dim, value, n) — the driver's canonicalizer hashes scalar
    # cells only (array cells raised TypeError: unhashable type 'list' in
    # round 4), and long form is what the oracle's dims CTE computes anyway.
    cent = S.label_centroids(load_table(spark, sf_dir, "embeddings"))
    return cent.select(
        "label", F.posexplode("centroid").alias("dim0", "value"), "n"
    ).select("label", (F.col("dim0") + 1).alias("dim"), "value", "n")


def q_lsh_bucket_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(V.hyperplane_signature("embedding", PLANES).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vectors"))
    )


def q_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg(V.l2_norm("embedding")), 6).alias("avg_norm"),
        F.round(F.max(V.l2_norm("embedding")), 6).alias("max_norm"),
    )


def q_filter_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # GetAll projection + equality predicate (SemanticDatabase.cs:248-260,:236)
    d = load_table(spark, sf_dir, "documents")
    return d.filter(F.col("lang") == "en").select("doc_id", "text")


def q_count_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Count (SemanticDatabase.cs:110-125)
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    return emb.select(F.count("*").alias("n_embeddings")).crossJoin(
        docs.select(F.count("*").alias("n_documents"))
    )


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(load_table(spark, sf_dir, "documents"))


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = D.minhash_signature_long(
        load_table(spark, sf_dir, "documents"), num_hashes=MINHASH_N, shingle_n=SHINGLE_N
    )
    return sig.groupBy("doc_id").pivot("hash_idx", list(range(MINHASH_N))).agg(
        F.first("min_hash")
    ).select(
        "doc_id", *[F.col(str(i)).alias(f"h{i}") for i in range(MINHASH_N)]
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared_lsh_pairs(spark, sf_dir)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(load_table(spark, sf_dir, "documents"), bits=SIMHASH_BITS)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), shingle_n=SHINGLE_N, threshold=JACCARD_THRESHOLD
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LSH-bucketed path (planes given): candidate pairs come from a hash
    # equi-join on the hyperplane signature — never the quadratic all-pairs
    # fallback (O(N^2) is non-viable at 100 TB).
    return D.embedding_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=NEARDUP_COS, planes=PLANES
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF-flat approximate top-k: probe the 2 nearest of 8 centroids, exact
    # rank inside the pruned candidate set (TakeOrderedAndProject).
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return S.ivf_topk(emb, q, CENTROIDS, k=KNN_K, nprobe=IVF_NPROBE)


def q_hnsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sharded HNSW (operators/hnsw.py): build per-shard small-world graphs,
    # persist partitionBy(shard), scatter-gather search. ef=None runs the
    # REAL graph traversal with beam = shard size over the connectivity-
    # guaranteed base layer — provably visits every node, so the result is
    # the exact top-k and the brute-force oracle hash-matches; real-beam
    # recall is pytest-covered (tests/test_new_operators.py).
    from semantic_index_spark.operators import hnsw as H

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 5).select("embedding").collect()[0][0]

    with _scratch("hnsw_idx_") as tmp:
        path = tmp + "/idx"
        H.write_hnsw_index(
            H.build_hnsw(emb, n_shards=4, m=8, ef_construction=32),
            path,
            n_shards=4,
            m=8,
            ef_construction=32,
        )
        out = pin(H.hnsw_topk_indexed(spark, path, q, k=KNN_K, ef=None), "hnsw_topk", "eager")
    return out


def q_hnsw_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incremental HNSW maintenance (operators/hnsw.py append_hnsw_index):
    # base index from the first 2/3 of the corpus, the rest appended as an
    # ingest batch — only the shards the batch touches are read back,
    # resumed (insertion continues from the stored pure-adjacency state),
    # and rewritten via dynamic partition overwrite. Monotone ids make
    # append == rebuild exactly (pytest); the exhaustive serve proves the
    # appended index covers the WHOLE corpus, so the brute-force oracle
    # hash-matches.
    from semantic_index_spark.operators import hnsw as H

    emb = load_table(spark, sf_dir, "embeddings")
    cut = emb.agg(F.expr("percentile(vec_id, 0.66)").alias("c")).collect()[0]["c"]
    q = emb.filter(F.col("vec_id") == 9).select("embedding").collect()[0][0]

    with _scratch("hnsw_inc_") as tmp:
        path = tmp + "/idx"
        H.write_hnsw_index(
            H.build_hnsw(emb.filter(F.col("vec_id") <= cut), n_shards=4, m=8, ef_construction=32),
            path,
            n_shards=4,
            m=8,
            ef_construction=32,
        )
        H.append_hnsw_index(emb.filter(F.col("vec_id") > cut), path)
        out = pin(
            H.hnsw_topk_indexed(spark, path, q, k=KNN_K, ef=None), "hnsw_incremental", "eager"
        )
    return out


def q_hnsw_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # batched HNSW serving (operators/hnsw.py hnsw_topk_multi): the query
    # panel broadcasts once, every shard answers ALL queries from ONE
    # graph load, and only n_shards*Q*k winners shuffle into the per-query
    # window rank. ef=None → exhaustive traversal → exact, so the oracle
    # is the brute-force per-query rank (knn_multi's shape).
    from semantic_index_spark.operators import hnsw as H

    emb = load_table(spark, sf_dir, "embeddings")
    idx = H.build_hnsw(emb, n_shards=4, m=8, ef_construction=32)
    queries = emb.filter(F.col("vec_id").isin(2, 4, 6)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    return H.hnsw_topk_multi(idx, queries, k=KNN_K, ef=None)


def q_hnsw_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    # metadata-filtered HNSW (operators/hnsw.py hnsw_topk_filtered): the
    # attribute predicate's surviving ids broadcast as a set; the graph
    # traversal keeps disallowed nodes as routing waypoints (carving them
    # out severs small-world paths) but only allowed nodes rank. ef=None
    # → exhaustive → exactly the brute-force filtered top-k (the oracle).
    from semantic_index_spark.operators import hnsw as H

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 1).select("embedding").collect()[0][0]
    idx = H.build_hnsw(emb, n_shards=4, m=8, ef_construction=32)
    allowed = emb.filter(F.col("label") == 3).select("vec_id")
    return H.hnsw_topk_filtered(idx, allowed, q, k=KNN_K, ef=None)


def q_hnsw_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    # streaming HNSW maintenance (streaming/ingest.py incremental_hnsw_sink):
    # base graph from 1/2 the corpus, the rest lands as 2 foreachBatch
    # epochs — epoch 0 REPLAYED to prove the meta-file ledger skips it
    # (exactly-once for a stateful structure; a double-insert would crash
    # on duplicate ids, a lost batch would break the oracle hash). The
    # exhaustive serve proves the final graph covers the whole corpus.
    from semantic_index_spark.operators import hnsw as H
    from semantic_index_spark.streaming.ingest import incremental_hnsw_sink

    emb = load_table(spark, sf_dir, "embeddings")
    # both epoch cut points ride one aggregate action (r14, guide §1.2)
    cuts = emb.agg(
        F.expr("percentile(vec_id, 0.5)").alias("c"),
        F.expr("percentile(vec_id, 0.75)").alias("h"),
    ).collect()[0]
    cut, hi = cuts["c"], cuts["h"]
    q = emb.filter(F.col("vec_id") == 11).select("embedding").collect()[0][0]

    with _scratch("hnsw_stream_") as tmp:
        path = tmp + "/idx"
        H.write_hnsw_index(
            H.build_hnsw(emb.filter(F.col("vec_id") <= cut), n_shards=4, m=8, ef_construction=32),
            path,
            n_shards=4,
            m=8,
            ef_construction=32,
        )
        sink = incremental_hnsw_sink(path)
        b0 = emb.filter((F.col("vec_id") > cut) & (F.col("vec_id") <= hi))
        b1 = emb.filter(F.col("vec_id") > hi)
        sink(b0, 0)
        sink(b0, 0)  # replayed epoch: ledger-skipped
        sink(b1, 1)
        out = pin(
            H.hnsw_topk_indexed(spark, path, q, k=KNN_K, ef=None), "hnsw_streaming", "eager"
        )
    return out


def q_hnsw_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    # graph-layout deletion vectors (operators/hnsw.py
    # delete_from_hnsw_index / compact_hnsw_index): tombstones land as
    # O(delete-keys) files, serve applies them (deleted nodes route but
    # never rank), compaction rebuilds live-only with identical results.
    # Output = the exhaustive serve BOTH before and after compaction,
    # stage-tagged — a leaked deleted row, a lost survivor, or a
    # compaction that changed results breaks the hash.
    from semantic_index_spark.operators import hnsw as H

    # a 500-vector slice: the row's point is the tombstone/compaction
    # CONTRACT, and compaction is a full rebuild — the whole corpus would
    # triple the row's bench cost for no extra coverage (the other hnsw
    # rows already build on the full corpus)
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    q = emb.filter(F.col("vec_id") == 4).select("embedding").collect()[0][0]
    with _scratch("hnsw_dv_") as tmp:
        path = tmp + "/idx"
        H.write_hnsw_index(
            H.build_hnsw(emb, n_shards=4, m=8, ef_construction=16),
            path,
            n_shards=4,
            m=8,
            ef_construction=16,
        )
        H.delete_from_hnsw_index(
            emb.filter(F.col("vec_id") % 7 == 0).select("vec_id"), path
        )
        before = H.hnsw_topk_indexed(spark, path, q, k=KNN_K, ef=None).withColumn(
            "stage", F.lit("tombstoned")
        )
        before = pin(before, "hnsw_delete: before", "eager")
        H.compact_hnsw_index(spark, path)
        after = H.hnsw_topk_indexed(spark, path, q, k=KNN_K, ef=None).withColumn(
            "stage", F.lit("compacted")
        )
        out = before.unionByName(after).orderBy("stage", F.desc("score"), "vec_id")
        out = pin(out, "hnsw_delete: out", "eager")
    return out


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # as-of join: each purchase gets the user's most recent view at or
    # before it. Union + keyed window — one shuffle, no range cross-product.
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")  # dedup same-instant views deterministically
        .agg(F.max("value").alias("view_value"))
    )
    out = TS.asof_join(purchases, views, on="user_id", value_cols=["view_value"])
    return out.select(
        "user_id",
        "event_id",
        F.round("value", 2).alias("purchase_value"),
        F.round("view_value_asof", 2).alias("view_value"),
        F.unix_timestamp("ts_asof").alias("view_ts"),
    )


def q_range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    # point-in-interval join against a broadcast band table.
    orders = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("budget", 0.0, 100000.0), ("mid", 100000.0, 250000.0), ("premium", 250000.0, 1e12)],
        "band string, lo double, hi double",
    )
    return (
        TS.banded_range_join(
            orders.select("o_orderkey", "o_totalprice"), bands, "o_totalprice", "lo", "hi"
        )
        .groupBy("band")
        .agg(F.count("*").alias("n_orders"), F.round(F.avg("o_totalprice"), 2).alias("avg_price"))
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return TA.tfidf_top_terms(d, top_n=3)


CHUNK_TOKENS, CHUNK_OVERLAP = 40, 10
TEST_FRACTION = 0.1


def q_global_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    # total ordering without Exchange SinglePartition: range-partition +
    # sortWithinPartitions, monotonically_increasing_id encodes (pid, local
    # row), broadcast prefix-sum offsets (operators/skew.py:global_ranks).
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    ranked = SK.global_ranks(o, ["o_orderdate", "o_orderkey"], rank_alias="global_rank")
    return ranked.select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "global_rank"
    )


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # skew-safe two-stage aggregation over a 3-distinct-value key; result is
    # identical to the direct groupBy (the oracle IS the plain GROUP BY).
    li = load_table(spark, sf_dir, "lineitem")
    out = SK.salted_agg(
        li,
        ["l_returnflag"],
        sum_cols={"l_quantity": "sum_qty", "l_extendedprice": "sum_price"},
        count_alias="n_rows",
    )
    return out.select(
        "l_returnflag",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("sum_price", 2).alias("sum_price"),
        "n_rows",
    )


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # reproducible md5-bucket train/test split — deterministic across runs,
    # engines, and corpus growth (what random() sampling can't give).
    d = load_table(spark, sf_dir, "documents")
    return SK.hash_split(d, "doc_id", test_fraction=TEST_FRACTION).select("doc_id", "split")


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return TA.chunk_documents(d, chunk_tokens=CHUNK_TOKENS, overlap=CHUNK_OVERLAP)


def q_quantized_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # top-k over int8-quantized embeddings: integer-fold dot + one rescale.
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    qz = emb.select("vec_id", V.quantize_int8("embedding").alias("qz"))
    return (
        qz.select(
            "vec_id", F.round(V.quantized_dot_literal("qz", q), 6).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(KNN_K)
    )


def q_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    return S.similarity_join(emb, queries, threshold=0.2)


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # approximate top-k: probe ONLY the query's hyperplane bucket (pruned
    # candidate set), exact dot-product rank inside the bucket.
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return S.lsh_topk(emb, q, PLANES, k=KNN_K)


LSH_PROBE_T = 2  # multi-probe Hamming radius: 22 of 64 buckets (~34% scan)
RERANK_CAND = 50  # first-stage candidate count for two-stage retrieval


def q_rerank_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    # two-stage retrieval: int8-quantized dot product (4x less IO, integer
    # fold) retrieves RERANK_CAND candidates; exact float re-scoring of
    # just those candidates yields the final top-k. The quantized stage's
    # small ranking error is repaired by the rerank as long as the true
    # top-k survives into the candidate set.
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    qz = emb.select("vec_id", V.quantize_int8("embedding").alias("qz"))
    cand = (
        qz.select(
            "vec_id", F.round(V.quantized_dot_literal("qz", q), 6).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(RERANK_CAND)
    )
    return S.rerank_exact(emb, cand, q, k=KNN_K)


def q_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # multi-probe LSH: besides the query's bucket, probe every bucket within
    # Hamming distance T of its signature — recovers neighbors that flipped
    # a few hyperplanes without extra hash tables (recall 0.16 -> ~0.6 here).
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return S.lsh_topk(emb, q, PLANES, k=KNN_K, probe_hamming=LSH_PROBE_T)


def q_udtf_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Python UDTF via LATERAL: text → (pos, tok) rows, executor-side fan-out.
    TA.register_tokenize_udtf(spark)
    load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20).createOrReplaceTempView(
        "docs_udtf"
    )
    return spark.sql(
        "SELECT d.doc_id, t.pos, t.tok FROM docs_udtf d, LATERAL tokenize_pos(d.text) t"
    )


QUALITY_MIN = 0.65


def q_corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the engine's user story end-to-end: quality filter → exact-dedup
    # (keep the min-id winner per fingerprint) → overlapping chunking →
    # per-doc chunk stats. Every stage is the already-oracled operator;
    # this checks their COMPOSITION.
    d = load_table(spark, sf_dir, "documents")
    quality = d.filter(T.quality_score("text") >= QUALITY_MIN)
    winners = D.exact_dedup(quality)
    clean = quality.join(winners.select("doc_id"), "doc_id")
    chunks = TA.chunk_documents(clean, chunk_tokens=CHUNK_TOKENS, overlap=CHUNK_OVERLAP)
    return chunks.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


def q_text_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.quality_score("text").alias("quality"),
        T.lang_guess("text").alias("lang_guess"),
        T.bpe_ish_token_count("text").alias("bpe_tokens"),
    )


HLL_P = 12  # 4096 registers; C_HLL = alpha_m * m^2 computed ONCE here and
# inlined as the same 64-bit double literal on both engine sides.
C_HLL = 0.7213 / (1.0 + 1.079 / (1 << HLL_P)) * (1 << HLL_P) ** 2
STRATA_N = 5
HEAVY_MIN = 50


def q_hll_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sketch-per-key: per-event_type HLL distinct users next to the exact
    # answer; registers from different groups merge by max(rho), so these
    # per-group sketches roll up to the global hll_users sketch without
    # touching raw data again (merge equality is pytest-asserted).
    ev = load_table(spark, sf_dir, "events")
    est = SKT.hll_estimate_by(
        SKT.hll_registers_by(ev, "user_id", "event_type", p=HLL_P), "event_type", p=HLL_P
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type")


def q_window_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # temporal distinct counting — THE streaming health metric: exact
    # distinct users per 6-hour event-time bucket next to the per-window
    # HLL estimate. Explicit epoch-floor bucketing (engine-unambiguous,
    # equals Spark's epoch-aligned window start); per-window register rows
    # merge by max(rho), so 6-hour sketches roll up to daily/monthly
    # without re-reading raw events.
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .withColumn(
            "wstart",
            (F.floor(F.unix_timestamp("ts") / 21600) * 21600).cast("bigint"),
        )
    )
    est = SKT.hll_estimate_by(
        SKT.hll_registers_by(ev, "user_id", "wstart", p=HLL_P), "wstart", p=HLL_P
    )
    exact = ev.groupBy("wstart").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "wstart")


def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-source rank-normalized quality: percent_rank within each source
    # maps scores onto [0,1], so a global threshold over qnorm can't be
    # gamed by one domain's score calibration — the within-slice companion
    # of the per-domain quantile gate. One keyed window, deterministic
    # (quality, doc_id) tie-break.
    d = load_table(spark, sf_dir, "documents")
    q = T.quality_score("text")
    from pyspark.sql import Window as _W

    w = _W.partitionBy("source").orderBy(q.asc(), F.col("doc_id").asc())
    return d.select(
        "doc_id",
        "source",
        q.alias("quality"),
        F.round(F.percent_rank().over(w), 6).alias("qnorm"),
    )


def q_media_shared_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    # partial-duplicate media detection: media pairs sharing >= 2 distinct
    # frame fingerprints (multimodal.shared_frame_pairs over every frame,
    # every_n=1). ASCII-clean filter for the byte/char oracle mirror, same
    # contract as media_frames.
    docs = load_table(spark, sf_dir, "documents").filter(
        F.octet_length(F.encode(F.col("text"), "UTF-8")) == F.length("text")
    )
    frames = M.sample_frames(M.attach_fake_media(docs), frame_bytes=64, every_n=1)
    return M.shared_frame_pairs(frames, min_shared=2)


CUSUM_K, CUSUM_H = 0.5, 4.0


def q_ab_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    # continuous-metric A/B readout: Mann-Whitney rank-sum z over event
    # values (cents-discretized so the rank table is value-domain-bounded),
    # arms from the same md5 hash-split as ab_test_zscore — the A/A shape.
    from semantic_index_spark.operators import stats as ST

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    armed = ev.select(
        F.round(F.col("value"), 2).alias("v"),
        F.when(
            F.pmod(
                T.md5_bigint(F.col("user_id").cast("string"), salt="ab:"), F.lit(2)
            )
            == 0,
            "A",
        )
        .otherwise("B")
        .alias("_arm"),
    )
    return ST.mann_whitney_z(armed, "v", "_arm")


def q_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    # classic reporting shape: per-type week-over-week event growth — one
    # partial-agg groupBy to the (type, ISO week) grain, then a tiny keyed
    # lag window over the aggregate (never the corpus).
    ev = load_table(spark, sf_dir, "events")
    weekly = ev.groupBy(
        "event_type",
        (F.year("ts") * 100 + F.weekofyear("ts")).cast("int").alias("yw"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    from pyspark.sql import Window as _W

    w = _W.partitionBy("event_type").orderBy("yw")
    prev = F.lag("n").over(w)
    return weekly.select(
        "event_type",
        "yw",
        "n",
        F.round(F.col("n") / prev.cast("double") - 1.0, 6).alias("wow_growth"),
    )


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dedup-aware train/test split: the fold is assigned to the whole
    # near-dup CLUSTER (connected components over minhash-LSH pairs), so
    # near-duplicates can never straddle the split — the train/eval
    # contamination-avoidance property a doc-level hash split lacks.
    # Assignment hashes the cluster's canonical id: deterministic and
    # engine-portable. Stability under corpus growth holds while clusters
    # don't MERGE — a new doc bridging two clusters re-keys the larger-id
    # one (re-keying on merge is inherent to any canonical-id scheme; pin
    # folds of released eval sets explicitly if that matters).
    d = load_table(spark, sf_dir, "documents")
    pairs = shared_lsh_pairs(spark, sf_dir)
    comp = D.connected_components(d.select("doc_id"), pairs)
    fold = F.when(
        F.pmod(
            T.md5_bigint(F.col("component").cast("string"), salt="split:"),
            F.lit(10),
        )
        < 8,
        "train",
    ).otherwise("test")
    return comp.select("doc_id", "component", fold.alias("fold"))


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DSIR importance weights (Xie et al. 2023): treat src0 as the
    # high-quality target domain, weight every other doc by how much its
    # hashed unigram+bigram profile looks like src0 vs the raw pool.
    # Compared output keeps only the exact-integer micro-nat columns
    # (the ngram_lm_score avg-rounding lesson).
    d = load_table(spark, sf_dir, "documents")
    w = TA.dsir_weights(
        d, target_cond=F.col("source") == F.lit("src0"), buckets=1024, alpha=1.0
    )
    return w.select("doc_id", "n_feats", "logw_micro")


def q_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus-level near-dup: estimated shingle-set Jaccard between whole
    # SOURCES (mirror/re-crawl detection) — MinHash of each source's
    # unioned shingle set, 16 hashes for a 1/16-granular estimate.
    d = load_table(spark, sf_dir, "documents")
    return D.group_minhash_similarity(
        d, by="source", num_hashes=16, shingle_n=SHINGLE_N
    )


def q_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic multi-epoch training order: (epoch, shard, pos) from
    # epoch-salted hashing — reproducible data order without a global
    # permutation; loaders resume mid-epoch from (shard, pos).
    from semantic_index_spark.operators import pipeline as P

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return P.epoch_shard_order(d, epochs=2, n_shards=8)


def q_corpus_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-source order-insensitive content fingerprint: the integrity
    # check a 100 TB copy / migration / engine swap is signed off with —
    # ONE partial-agg scan, O(1) state per slice.
    from semantic_index_spark.operators import pipeline as P

    d = load_table(spark, sf_dir, "documents")
    return P.table_checksum(
        d, cols=["doc_id", "text", "lang", "n_chars"], by="source"
    )


def q_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the fastText-recipe quality classifier end-to-end: train logistic
    # regression to distinguish the curated source (src0 = positives)
    # from the raw pool on three cheap exact features, then score EVERY
    # doc. Scoring uses the ROUNDED(6) weights — identical doubles on
    # both engines (the logreg_gd parity argument) — so per-doc logits
    # are bit-deterministic and fixed-point to micro units exactly.
    from semantic_index_spark.operators import stats as ST

    d = load_table(spark, sf_dir, "documents")
    toks = T.tokens("text")
    feats = d.select(
        "doc_id",
        (F.col("n_chars") / F.lit(1000.0)).alias("len_s"),
        (F.size(toks) / F.lit(100.0)).alias("ntok_s"),
        (F.size(F.array_distinct(toks)) / F.size(toks).cast("double")).alias(
            "ttr"
        ),
        (F.col("source") == "src0").cast("double").alias("label"),
    )
    w = ST.logistic_regression_gd(
        feats, ["len_s", "ntok_s", "ttr"], "label", steps=2, lr=1.0
    )
    wm = {r["feature"]: r["weight"] for r in w.collect()}  # 4 rounded floats
    logit = (
        F.lit(wm["__intercept__"])
        + F.lit(wm["len_s"]) * F.col("len_s")
        + F.lit(wm["ntok_s"]) * F.col("ntok_s")
        + F.lit(wm["ttr"]) * F.col("ttr")
    )
    return feats.select(
        "doc_id",
        F.col("label").cast("bigint").alias("is_target"),
        F.floor(logit * F.lit(1e6) + F.lit(0.5)).cast("bigint").alias("logit_micro"),
    )


def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    # governance rollup: what fraction of each source survives corpus-level
    # exact dedup (canonical winner = min doc_id per fingerprint) — the
    # per-provider duplication scorecard.
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", T.fingerprint("text").alias("_fp")
    )
    w = d.groupBy("_fp").agg(F.min("doc_id").alias("_win"))
    j = d.join(w, "_fp")
    return j.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum((F.col("doc_id") == F.col("_win")).cast("long")).alias("n_kept"),
        F.round(
            F.lit(1.0)
            - F.sum((F.col("doc_id") == F.col("_win")).cast("long"))
            / F.count("*").cast("double"),
            6,
        ).alias("dup_rate"),
    )


def q_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # point-in-time join (the feature-store primitive): each fact gets the
    # SCD2 dimension version in force at its timestamp — here "what status
    # did this user hold 30 minutes after each event" against the
    # self-derived status history. One keyed sort-shuffle via the as-of
    # machinery, never an interval cross-product (timeseries.pit_join).
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    hist = TS.scd2_history(
        ev, key="user_id", ts="ts", attr="event_type", tiebreak="event_id"
    )
    facts = ev.select(
        "user_id",
        "event_id",
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("ts"),
    )
    out = TS.pit_join(facts, hist, key="user_id", attrs=["event_type"])
    return out.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("fts"),
        F.col("event_type_pit").alias("status_pit"),
        F.unix_timestamp("valid_from_pit").alias("valid_from_pit"),
    )


def q_cusum_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one-sided CUSUM drift detection over daily per-type volumes — the
    # sustained-small-shift monitor MAD/seasonal z-tests miss; the
    # non-associative max-reset scan runs per-series in applyInPandas and
    # the oracle replays it as a recursive CTE (timeseries.cusum_alerts).
    ev = load_table(spark, sf_dir, "events")
    return TS.cusum_alerts(ev, ts_col="ts", by="event_type", k=CUSUM_K, h=CUSUM_H)


def q_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # portable HyperLogLog next to the exact answer it approximates: both
    # engines run the identical md5-register formula, so even the APPROXIMATE
    # value hash-matches. Realistic rho values keep every partial sum of
    # 2^-rho exact in a double, so summation order cannot skew the compare.
    ev = load_table(spark, sf_dir, "events")
    approx = SKT.hll_count_distinct(ev, "user_id", p=HLL_P)
    exact = ev.agg(F.count_distinct("user_id").alias("exact_distinct"))
    return approx.crossJoin(exact)


SOURCE_CAP_N = 10
SKEW_TOP_N = 10
SEMDEDUP_COS = 0.3
# SemDeDup's own scaling lever is the CLUSTER COUNT (they run ~50k on
# LAION): more cells → smaller Σ|cell|² pair space. 32 cells here (vs the
# serving index's 8) cuts pair work ~4× at identical semantics.
SEMDEDUP_K = 32
SEMDEDUP_CENTROIDS = S.make_centroids(SEMDEDUP_K, 64, seed=13)
DUP_SPAN_N, DUP_SPAN_MIN_DOCS = 8, 2


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # substring-level exact-dup screening: rolling 8-token window hashes →
    # word-count groupBy → one hash equi-join back; per-doc dup fraction.
    d = load_table(spark, sf_dir, "documents")
    return D.duplicate_spans(d, n=DUP_SPAN_N, min_docs=DUP_SPAN_MIN_DOCS)


def q_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incremental-aggregation maintenance: per-month partials merge into
    # per-key totals via each aggregate's merge fn only — the oracle runs
    # the DIRECT aggregate over raw rows, proving merge == recompute.
    from semantic_index_spark.operators import pipeline as P

    ev = load_table(spark, sf_dir, "events")
    partials = P.epoch_rollup(
        ev, ["event_type"], F.date_format("ts", "yyyyMM").cast("int"), "value"
    )
    merged = P.merge_rollups(partials, ["event_type"])
    return merged.select(
        "event_type",
        "n",
        F.round("sum_v", 2).alias("sum_v"),
        F.round("min_v", 6).alias("min_v"),
        F.round("max_v", 6).alias("max_v"),
        F.round("avg_v", 6).alias("avg_v"),
    )


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SemDeDup: cluster-confined semantic dedup — quadratic pair checks
    # never leave a centroid cell, so centroid count bounds the join.
    emb = load_table(spark, sf_dir, "embeddings")
    return D.semantic_cluster_dedup(emb, SEMDEDUP_CENTROIDS, threshold=SEMDEDUP_COS)


def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-domain corpus cap (keep the N longest docs per source) via the
    # skew-safe two-stage top-n — row-identical to the direct window the
    # oracle runs, but a hot domain spreads over salt_n reducers.
    d = load_table(spark, sf_dir, "documents")
    capped = SK.capped_top_n(
        d, ["source"], [F.length("text").desc(), F.col("doc_id")], n=SOURCE_CAP_N
    )
    return capped.select(
        "source", "doc_id", F.length("text").cast("bigint").alias("text_len")
    )


def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the pre-flight diagnostic for any shuffle on user_id×event_type-like
    # keys: heaviest keys, their share, and the salt_n-sizing skew ratio.
    ev = load_table(spark, sf_dir, "events")
    return SK.skew_profile(ev, ["event_type"], top_n=SKEW_TOP_N)


CMS_DEPTH, CMS_WIDTH = 4, 2048
# probe set spans frequent corpus terms + one absent term (est stays 0
# unless a counter collision occurs — deterministic either way, so the
# approximate value itself hash-matches the DuckDB replay like the HLL).
CMS_PROBES = ["join", "hash", "spark", "window", "vector", "data", "merge", "zzz_absent"]


def q_cms_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    # count-min sketch point queries next to the exact counts they
    # approximate: the sketch is depth·width counter rows built in ONE
    # map-side-combined groupBy; lookups never touch the corpus again.
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(T.tokens("text")).alias("tok"))
    sk = SKT.cms_sketch(tok, "tok", depth=CMS_DEPTH, width=CMS_WIDTH)
    est = SKT.cms_lookup(sk, CMS_PROBES, depth=CMS_DEPTH, width=CMS_WIDTH)
    exact = (
        tok.where(F.col("tok").isin(CMS_PROBES))
        .groupBy(F.col("tok").alias("value"))
        .agg(F.count("*").alias("exact_n"))
    )
    return est.join(exact, "value", "left").select(
        "value", "est", F.coalesce("exact_n", F.lit(0)).cast("bigint").alias("exact_n")
    )


def q_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    # planner-style join cardinality estimation from two depth·width-row
    # sketches — next to the exact join count it predicts (the estimate
    # itself hash-matches the DuckDB replay; it may only over-count).
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    sa = SKT.cms_sketch(
        orders.select(F.col("o_custkey").alias("k")), "k", CMS_DEPTH, CMS_WIDTH
    )
    sb = SKT.cms_sketch(
        cust.select(F.col("c_custkey").alias("k")), "k", CMS_DEPTH, CMS_WIDTH
    )
    exact = orders.join(cust, orders.o_custkey == cust.c_custkey).agg(
        F.count("*").cast("bigint").alias("exact_join_size")
    )
    return SKT.cms_join_size(sa, sb).crossJoin(exact)


BLOOM_M, BLOOM_K = 1 << 16, 4


def q_bloom_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incremental-ingest screening: a Bloom filter over the "historical"
    # corpus fingerprints (doc_id % 3 != 0) probed by the full batch — the
    # 100 TB path where joining the batch against the corpus every day is
    # replaced by one broadcast probe. Returns the screen's confusion
    # summary; the no-false-negative guarantee shows up as
    # definitely_new <= exact_new (difference = FPs among new docs).
    from semantic_index_spark.functions import bloom as B

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", T.fingerprint("text").alias("fp")
    )
    corpus = d.where(F.col("doc_id") % 3 != 0)
    bloom = B.bloom_bits(corpus, "fp", m=BLOOM_M, k=BLOOM_K)
    probed = B.bloom_contains(bloom, d, "fp", m=BLOOM_M, k=BLOOM_K)
    exact_seen = d.join(
        corpus.select("fp").distinct(), "fp", "left_semi"
    ).agg(F.count("*").alias("_n")).select(F.col("_n").alias("exact_seen"))
    summary = probed.agg(
        F.count("*").cast("bigint").alias("n_batch"),
        F.sum(F.when(~F.col("maybe_member"), 1).otherwise(0))
        .cast("bigint")
        .alias("definitely_new"),
        F.sum(F.when(F.col("maybe_member"), 1).otherwise(0))
        .cast("bigint")
        .alias("maybe_seen"),
    )
    return summary.crossJoin(exact_seen).select(
        "n_batch",
        "definitely_new",
        "maybe_seen",
        (F.col("n_batch") - F.col("exact_seen")).cast("bigint").alias("exact_new"),
    )


QUAL_Q, QUAL_BINS = 0.5, 64
QUAL_W = 1.0 / QUAL_BINS  # 0.015625 — exactly representable, binning is FP-exact
CONTAIN_N, CONTAIN_T = 3, 0.5


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FineWeb-style per-domain quality gate: the per-source median
    # threshold comes from the mergeable histogram (ONE partial-agg pass,
    # never a per-domain sort) and broadcasts back onto the corpus.
    # Returns per-source (threshold, n_total, n_kept) so the
    # no-global-threshold property is visible per domain.
    from semantic_index_spark.operators import pipeline as P

    # five subtrees of the final plan (the filter's histogram, the kept
    # join side, the threshold readout, the two per-source counts) share
    # ONE evaluation of the regex/token-heavy scoring pass through a pin
    d = load_table(spark, sf_dir, "documents").select(
        "source", T.quality_score("text").alias("quality")
    ).transform(pin, "quality_filter: d")
    kept = P.quantile_threshold_filter(d, "quality", "source", QUAL_Q, 0.0, 1.0, QUAL_BINS)
    thr = SKT.histogram_quantiles_by(d, "quality", "source", 0.0, 1.0, [QUAL_Q], QUAL_BINS).select(
        "source", F.col("approx_value").alias("threshold")
    )
    totals = d.groupBy("source").agg(F.count("*").cast("bigint").alias("n_total"))
    kcount = kept.groupBy("source").agg(F.count("*").cast("bigint").alias("n_kept"))
    return (
        totals.join(F.broadcast(kcount), "source", "left")
        .join(F.broadcast(thr), "source", "left")
        .select(
            "source",
            "threshold",
            "n_total",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        )
    )


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # directed containment screening (quote / wrapper / subset dups that
    # Jaccard's union term hides) — same one-equi-join shape as the
    # Jaccard verifier, divided by |S(a)| instead of the union.
    d = load_table(spark, sf_dir, "documents")
    return D.containment_pairs(
        d, "text", "doc_id", shingle_n=CONTAIN_N, threshold=CONTAIN_T
    )


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distribution-drift monitor between two ingest epochs (split by
    # event_id parity here): both 100 TB sides collapse to <=bins histogram
    # rows before anything is compared.
    e = load_table(spark, sf_dir, "events")
    ref = e.where(F.col("event_id") % 2 == 0).select("value")
    cur = e.where(F.col("event_id") % 2 == 1).select("value")
    return SKT.psi_drift(ref, cur, "value", HISTO_LO, HISTO_HI, bins=HISTO_BINS)


PROFILE_COLS = ["doc_id", "lang", "source", "n_chars"]


def q_profile_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one-pass per-column profile (dtype/null/distinct/min/max) — ONE scan
    # for all columns, fan-out on the single aggregated row.
    from semantic_index_spark.operators import pipeline as P

    d = load_table(spark, sf_dir, "documents")
    return P.profile_table(d, PROFILE_COLS)


COV_DIMS = 4  # oracle checks the upper-triangle entries for dims 0..3


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distributed one-pass covariance: per-partition BLAS Gram partials →
    # groupBy over ≤ d²+d+1 keys; assembly (cov = Σee'/n − μμ') happens on
    # the sketch-sized entries relation, the corpus is scanned ONCE.
    from semantic_index_spark.operators import linalg as L

    emb = load_table(spark, sf_dir, "embeddings")
    entries = L.covariance_entries(emb, "embedding", 64)
    n_row = entries.where("i = -1").select(F.col("v").alias("_n"))
    means = entries.where((F.col("j") == -1) & (F.col("i") < COV_DIMS)).select(
        F.col("i").alias("_mi"), F.col("v").alias("_ms")
    )
    gram = entries.where(
        (F.col("i") >= 0) & (F.col("j") >= 0) & (F.col("j") < COV_DIMS)
    )
    mi = means.select(F.col("_mi").alias("i"), F.col("_ms").alias("_si"))
    mj = means.select(F.col("_mi").alias("j"), F.col("_ms").alias("_sj"))
    return (
        gram.crossJoin(F.broadcast(n_row))
        .join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i",
            "j",
            F.round(
                F.col("v") / F.col("_n")
                - (F.col("_si") / F.col("_n")) * (F.col("_sj") / F.col("_n")),
                6,
            ).alias("cov"),
        )
    )


OVERLAP_HALF_W = 2.0  # interval = [value, value + 2)
OVERLAP_BUCKET_W = 5.0


def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # interval×interval overlap join where BOTH sides are corpus-sized:
    # grid-bucket equi-join with designated-bucket dedup (each pair
    # emitted exactly once — no DISTINCT over the result). Summary row so
    # the check is output-size-independent at any SF.
    e = load_table(spark, sf_dir, "events")
    a = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("id_a"),
        F.col("value").alias("lo_a"),
        (F.col("value") + OVERLAP_HALF_W).alias("hi_a"),
    )
    b = e.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("id_b"),
        F.col("value").alias("lo_b"),
        (F.col("value") + OVERLAP_HALF_W).alias("hi_b"),
    )
    pairs = TS.interval_overlap_join(
        a, b, "lo_a", "hi_a", "lo_b", "hi_b", bucket_width=OVERLAP_BUCKET_W
    )
    # matched-side distinct counts WITHOUT count(distinct)'s Expand over the
    # full pair stream (3× the rows through the agg): tag each pair with its
    # two side ids, explode to 2 rows, and map-side-combine into ≤ n_a+n_b
    # (side, id) keys; overlap stats ride the 'a' rows so each pair counts
    # once. 1.5× faster at sf0.1 and the combine keeps the shuffle id-sized
    # however many pairs the corpus produces.
    ov = F.least(F.col("hi_a"), F.col("hi_b")) - F.greatest(
        F.col("lo_a"), F.col("lo_b")
    )
    ex = pairs.select(
        F.explode(
            F.array(
                F.struct(F.lit("a").alias("side"), F.col("id_a").alias("id"), ov.alias("ov")),
                F.struct(
                    F.lit("b").alias("side"),
                    F.col("id_b").alias("id"),
                    F.lit(None).cast("double").alias("ov"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    g = ex.groupBy("side", "id").agg(
        F.count("ov").alias("_c"), F.sum("ov").alias("_s")
    )
    return g.agg(
        F.sum("_c").cast("bigint").alias("n_pairs"),
        F.round(F.sum("_s"), 4).alias("sum_overlap"),
        F.sum(F.when(F.col("side") == "a", 1).otherwise(0)).cast("bigint").alias("n_a_matched"),
        F.sum(F.when(F.col("side") == "b", 1).otherwise(0)).cast("bigint").alias("n_b_matched"),
    )


HH_BY_TOP_N = 5


def q_heavy_hitters_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-source frequent terms through the skew-safe two-stage cap —
    # deterministic (n DESC, tok ASC) total order.
    d = load_table(spark, sf_dir, "documents")
    return TA.heavy_hitters_by(d, "source", top_n=HH_BY_TOP_N).select(
        "source", "tok", F.col("n").cast("bigint").alias("n"),
        F.col("df_docs").cast("bigint").alias("df_docs"),
    )


TOKEN_BUDGET = 20_000


def q_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    # greedy best-first corpus subsetting under a global token budget —
    # the distributed ordered prefix-sum (range partition + partition-keyed
    # windows + broadcast offsets), never a SinglePartition window.
    from semantic_index_spark.operators import pipeline as P

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", T.quality_score("text").alias("q")
    )
    return P.budget_select(d, TOKEN_BUDGET, "q").select(
        "doc_id",
        "quality",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "cum_tokens",
    )


def q_hll_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # set-operation cardinalities from two sketches alone (|A|, |B|, |A∪B|
    # by register max-merge, |A∩B| by inclusion-exclusion) next to the
    # exact intersection they approximate — no raw-data join for the
    # estimates, only for the exactness anchor.
    e = load_table(spark, sf_dir, "events")
    # NULL user_ids excluded on BOTH the sketch and the exact side: the
    # registers skip NULL anyway, but the exact anchor's left_semi would
    # drop NULL while the oracle's INTERSECT treats NULL = NULL — filter
    # up front so both engines count the same set.
    nn = e.where(F.col("user_id").isNotNull())
    va = nn.where(F.col("event_type") == "view").select("user_id")
    vb = nn.where(F.col("event_type") == "purchase").select("user_id")
    ra = SKT.hll_registers(va, "user_id", p=HLL_P)
    rb = SKT.hll_registers(vb, "user_id", p=HLL_P)
    est = SKT.hll_set_estimates(ra, rb, p=HLL_P)
    exact = (
        va.distinct()
        .join(vb.distinct(), "user_id", "left_semi")
        .agg(F.count("*").cast("bigint").alias("exact_intersection"))
    )
    return est.crossJoin(exact)


BLOOM_JOIN_PRICE = 400_000.0


def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DIY Bloom runtime filter: lineitem rows are screened against a Bloom
    # of the selective orders subset BEFORE the join shuffle — result is
    # row-identical to the plain join (no false negatives), which is
    # exactly what the oracle replays as a plain join.
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_extendedprice", "l_discount"
    )
    sel = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > BLOOM_JOIN_PRICE)
        .select(F.col("o_orderkey").alias("okey"), "o_orderpriority")
    )
    j = SK.bloom_filtered_join(li, sel, "okey")
    return j.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


MAD_K = 3.5


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # robust per-metric anomaly monitor: median/MAD baselines broadcast
    # back onto the stream; outlier counts per event_type out.
    e = load_table(spark, sf_dir, "events")
    flagged = TS.mad_outliers(e, "value", "event_type", k=MAD_K)
    return flagged.groupBy("event_type").agg(
        F.round(F.first("group_median"), 6).alias("group_median"),
        F.round(F.first("group_mad"), 6).alias("group_mad"),
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("is_outlier").cast("int")).cast("bigint").alias("n_outliers"),
    )


HISTO_LO, HISTO_HI, HISTO_BINS = 0.0, 500.0, 100
HISTO_QS = [0.25, 0.5, 0.9, 0.99]


def q_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # mergeable fixed-bin histogram → quantiles at bin granularity: the
    # scale path when exact `percentile` (per-group sort) is too expensive.
    ev = load_table(spark, sf_dir, "events")
    return SKT.histogram_quantiles(ev, "value", HISTO_LO, HISTO_HI, HISTO_QS, bins=HISTO_BINS)


def q_histogram_quantiles_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sketch-per-key quantiles: per-event_type p25/p50/p90/p99 off the
    # per-group mergeable histogram — the "p95 per source" scale path.
    ev = load_table(spark, sf_dir, "events")
    return SKT.histogram_quantiles_by(
        ev, "value", "event_type", HISTO_LO, HISTO_HI, HISTO_QS, bins=HISTO_BINS
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic per-language sample: same rows every run / engine / sf.
    d = load_table(spark, sf_dir, "documents")
    return SK.stratified_sample(d, "lang", "doc_id", STRATA_N).select("doc_id", "lang")


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return TA.heavy_hitters(d, min_count=HEAVY_MIN)


ZORDER_COLS = [("c_acctbal", -1000.0, 10000.0), ("c_custkey", 0.0, 1048576.0)]
ZORDER_BITS = 8


def _duck_zorder(cols, bits: int) -> str:
    """DuckDB mirror of sources.io.zorder_key: same clamp-quantize + bit
    interleave, same double step literals."""
    k = len(cols)
    terms = []
    for i, (name, lo, hi) in enumerate(cols):
        step = (float(hi) - float(lo)) / (1 << bits)
        cell = (
            f"least({(1 << bits) - 1}, greatest(0, "
            f"floor(({name}::DOUBLE - ({float(lo)!r})) / ({step!r}))::BIGINT))"
        )
        for j in range(bits):
            terms.append(f"((({cell} >> {j}) & 1) << {j * k + i})")
    return "(" + " + ".join(terms) + ")::BIGINT"


def q_salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from semantic_index_spark.operators import skew as SKW

    orders = load_table(spark, sf_dir, "orders")
    dim = (
        orders.select("o_orderpriority")
        .distinct()
        .withColumn("prio_class", F.substring("o_orderpriority", 1, 1))
    )
    j = SKW.salted_join(orders, dim, on="o_orderpriority", row_key="o_orderkey", salt_n=8)
    return j.groupBy("prio_class").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from semantic_index_spark.sources.io import zorder_key

    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey", zorder_key(ZORDER_COLS, bits=ZORDER_BITS).alias("zkey")
    )


def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    exact = S.topk(emb, q, k=KNN_K).select("vec_id")
    approx = S.lsh_topk(emb, q, PLANES, k=KNN_K).select("vec_id")
    return S.ann_recall(exact, approx)


BM25_TERMS = ["vector", "join", "hash"]
BM25_K1, BM25_B = 1.2, 0.75
PACK_BUDGET = 512
BPE_TOP = 30
GOPHER_MIN_WORDS = 20
LM_K = 1.0


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return TA.gopher_rules(d, min_words=GOPHER_MIN_WORDS)


def q_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hash-compare only the EXACT fixed-point columns: the convenience
    # avg_nll double can tie at the rounding boundary (3.4140895 at sf0.1)
    # and engines break such ties differently — the micro-nat sum is the
    # summation-order-proof, engine-proof contract.
    d = load_table(spark, sf_dir, "documents")
    return TA.ngram_lm_score(d, k=LM_K).select("doc_id", "n_bigrams", "sum_nll_micro")


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return TA.bm25_topk(d, BM25_TERMS, k=KNN_K, k1=BM25_K1, b=BM25_B)


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return TA.bpe_pair_counts(d, top_n=BPE_TOP)


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    # benchmark-leakage audit: every 10th doc plays the eval set, the rest
    # the training corpus; score = fraction of eval 3-gram shingles found
    # anywhere in train.
    d = load_table(spark, sf_dir, "documents")
    return TA.contamination_check(
        d.filter(F.col("doc_id") % 10 != 0),
        d.filter(F.col("doc_id") % 10 == 0),
        n=SHINGLE_N,
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from semantic_index_spark.operators import pipeline as P

    d = load_table(spark, sf_dir, "documents")
    return P.pack_sequences(d, budget=PACK_BUDGET)


def q_repetition_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plant deterministic PII on every 7th doc, then audit (counts per kind),
    # scrub (md5 of the redacted text certifies the rewrite byte-for-byte),
    # and score within-doc n-gram repetition. The per-row regex+shingle work
    # is heavy, so the single-file scan is re-parallelized first.
    d = D.ensure_parallelism(load_table(spark, sf_dir, "documents"))
    salted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com from 10.0.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(" tel +1 555 000 "),
                F.col("doc_id").cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    counts = T.pii_counts(F.col("text"))
    return salted.select(
        "doc_id",
        T.repetition_ratio("text").alias("rep_ratio"),
        F.element_at(counts, "EMAIL").alias("n_email"),
        F.element_at(counts, "IP").alias("n_ip"),
        F.element_at(counts, "PHONE").alias("n_phone"),
        F.md5(T.pii_scrub(F.col("text"))).alias("scrub_md5"),
    )


WINNOW_K, WINNOW_W = 8, 4


EDIT_MAX_RATIO = 0.5


def q_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LSH candidates → exact edit-distance verification: the O(len²) cost
    # is paid ONLY on band-colliding pairs, inside JVM codegen. Bands of
    # TWO rows (r=2 AND-then-OR) screen ~40× harder than the single-row
    # bands minhash_lsh_pairs uses for recall-first enumeration — the
    # right trade when each surviving pair costs O(len²) CPU.
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        d, num_hashes=MINHASH_N, bands=MINHASH_N // 2, shingle_n=SHINGLE_N
    )
    return D.edit_distance_verify(d, pairs, max_ratio=EDIT_MAX_RATIO)


INCR_SPLIT = 400  # doc_id < split = existing corpus; >= split = new batch


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ingest-time near-dup screening: which docs of the incoming batch
    # collide (share a full MinHash band) with the existing corpus, and
    # with whom. Batch and corpus never form pairs — only band-key joins.
    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") < INCR_SPLIT)
    new = d.filter(F.col("doc_id") >= INCR_SPLIT)
    return D.incremental_lsh_dedup(
        corpus, new, num_hashes=MINHASH_N, bands=MINHASH_N, shingle_n=SHINGLE_N
    )


def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return D.winnowing_fingerprints(d, k=WINNOW_K, w=WINNOW_W)


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # near-dup pairs → duplicate clusters: iterative min-label propagation;
    # every doc labeled with its cluster's canonical (minimum) id. The
    # oracle replays the same closure with a recursive CTE.
    d = load_table(spark, sf_dir, "documents")
    pairs = shared_lsh_pairs(spark, sf_dir)
    return D.connected_components(d.select("doc_id"), pairs)


def q_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # iterative Lloyd's k-means, HASH-oracled via the unrolled
    # assign/update CTE rounds (per-round 1e-6 centroid rounding on both
    # engines makes every round re-enter with identical decimals).
    # Long-form (cell, dim, value, n) so canonicalization never hits an
    # array cell.
    out = S.kmeans_fit(load_table(spark, sf_dir, "embeddings"), k=4, iters=3)
    return out.select(
        "cell", F.posexplode("centroid").alias("dim0", "value"), "n"
    ).select("cell", (F.col("dim0") + 1).alias("dim"), "value", "n")


def q_scd2_user_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    # type-2 SCD history of each user's event_type transitions: one keyed
    # sort-shuffle stitches validity intervals — no self-join, no range join.
    ev = load_table(spark, sf_dir, "events")
    h = TS.scd2_history(ev, key="user_id", ts="ts", attr="event_type", tiebreak="event_id")
    return h.select(
        "user_id",
        "event_type",
        F.unix_timestamp("valid_from").alias("valid_from"),
        F.unix_timestamp("valid_to").alias("valid_to"),
        "is_current",
    )


EMBED_CACHE_MOD = 3  # doc_id % MOD == 0 rows are "previously embedded"


def q_embed_cache_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incremental embedding: content-fingerprint cache join; only misses
    # pay the embedder UDF. The oracle checks the content-addressed
    # hit/miss split and that every hit reuses the CACHED vector
    # (cached_emb_sum); the miss-side compute path is pytest-verified
    # (DeterministicEmbedder is not SQL-expressible).
    from semantic_index_spark.embedder import DeterministicEmbedder
    from semantic_index_spark.operators import pipeline as P

    d = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    cache = (
        d.filter(F.col("doc_id") % EMBED_CACHE_MOD == 0)
        .join(emb, d["doc_id"] == emb["vec_id"])
        .select(T.fingerprint("text").alias("fingerprint"), "vec_id", "embedding")
        .groupBy("fingerprint")
        # duplicate texts exist in the corpus: deterministic winner per key
        .agg(F.min_by("embedding", "vec_id").alias("embedding"))
    )
    out = P.embed_incremental(d, cache, DeterministicEmbedder(dim=64))
    return out.select(
        "doc_id",
        "fingerprint",
        "was_cached",
        F.when(
            F.col("was_cached"),
            F.round(
                F.aggregate(
                    "embedding", F.lit(0.0), lambda a, x: a + x.cast("double")
                ),
                4,
            ),
        ).alias("cached_emb_sum"),
        # reads the MISS-side computed vectors too (the oracle knows the
        # embedder emits dim=64), so Catalyst cannot prune the UDF out of
        # the declared query.
        F.size("embedding").alias("emb_dim"),
    )


def q_data_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deequ-style one-pass data-quality gate: N rules = one scan + one
    # tiny shuffle; output is rows a pipeline can branch on.
    from semantic_index_spark.operators import pipeline as P

    d = load_table(spark, sf_dir, "documents")
    return P.validate_expectations(
        d,
        [
            P.expect_not_null("text"),
            P.expect_unique("doc_id"),
            P.expect_in_range("n_chars", 1, 2000),
            P.expect_in_set("lang", ["en", "de", "fr", "es", "zh"]),
            P.expect_matches("source", "^src[0-9]+$"),
        ],
    )


FUNNEL_STEPS = ["signup", "view", "purchase"]


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ordered funnel signup -> view -> purchase: per-user step times via
    # ONE shuffle + JVM array-HOF chain (no k-way self-join); rollup to
    # per-step converted-user counts.
    ev = load_table(spark, sf_dir, "events")
    per_user = TS.funnel(ev, FUNNEL_STEPS)
    counts = per_user.agg(
        *[F.count(f"step{i}_ts").alias(f"_c{i}") for i in range(len(FUNNEL_STEPS))]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("step"),
                F.lit(s).alias("step_name"),
                F.col(f"_c{i}").alias("n_users"),
            )
            for i, s in enumerate(FUNNEL_STEPS)
        ]
    )
    return counts.select(F.explode(rows).alias("r")).select(
        "r.step", "r.step_name", "r.n_users"
    )


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # weekly cohort retention triangle — first-activity week x active-week
    # offset, distinct users per cell.
    ev = load_table(spark, sf_dir, "events")
    r = TS.retention_cohorts(ev, granularity="week")
    return r.select(
        F.unix_timestamp("cohort").alias("cohort_week"), "period_offset", "n_users"
    )


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # snapshot-to-snapshot CDC derivation: old = the corpus; new = corpus
    # with every 11th doc removed, every 7th doc's text revised, and 20
    # re-keyed additions. One full-outer join on the key comparing
    # 16-byte fingerprints — texts never shuffle.
    from semantic_index_spark.operators import pipeline as P

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    revised = d.filter(F.col("doc_id") % 11 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    additions = d.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return P.snapshot_diff(d, revised.unionByName(additions))


MIX_WEIGHTS = {"src0": 2.5, "src1": 1.0, "src2": 0.4, "src3": 0.0}


def q_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic corpus mixing: per-source expected multiplicity
    # (2.5 epochs of src0, drop src3, drop unlisted sources) — map-side
    # filter + bounded explode, zero shuffle, reproducible across engines.
    d = load_table(spark, sf_dir, "documents")
    return SK.weighted_mix(d, MIX_WEIGHTS, group_col="source", key_col="doc_id").select(
        "doc_id", "source", "copy_idx"
    )


def q_media_pooled(spark: SparkSession, sf_dir: str) -> DataFrame:
    # frame-level features mean-pooled to a media-level embedding: the
    # video/audio aggregation shape (decode → per-frame encode → pool),
    # with a portable md5-signature standing in for the frame encoder.
    docs = load_table(spark, sf_dir, "documents").filter(
        F.octet_length(F.encode(F.col("text"), "UTF-8")) == F.length("text")
    )
    media = M.attach_fake_media(docs)
    frames = M.sample_frames(media, frame_bytes=64, every_n=2)
    feats = frames.select(
        "media_id", M.frame_signature_vec("frame", dim=4).alias("feature")
    )
    pooled = M.pool_frame_features(feats, id_col="media_id", vec_col="feature")
    return pooled.select(
        "media_id",
        "n_frames",
        *[F.round(F.element_at("pooled", j + 1), 6).alias(f"p{j}") for j in range(4)],
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.round(F.avg(T.token_count("text")), 6).alias("avg_tokens"),
        F.sum(T.token_count("text")).alias("total_tokens"),
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.fingerprint("text").alias("fingerprint"),
        F.round(T.stopword_ratio("text"), 6).alias("stopword_ratio"),
        F.round(T.punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(T.mean_token_len("text"), 6).alias("mean_token_len"),
    )


def q_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = M.attach_fake_media(load_table(spark, sf_dir, "documents"))
    return M.media_stats(media)


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    # frame sampling over binary media: pure-JVM 64-byte slicing, keep every
    # 2nd frame. Oracle mirrors on the text — valid ONLY for 1-byte-per-char
    # docs, so both sides filter to ASCII-clean rows (frame boundaries in
    # BYTES shift vs CHARS the moment a multi-byte char appears).
    docs = load_table(spark, sf_dir, "documents").filter(
        F.octet_length(F.encode(F.col("text"), "UTF-8")) == F.length("text")
    )
    media = M.attach_fake_media(docs)
    frames = M.sample_frames(media, frame_bytes=64, every_n=2)
    return frames.select(
        "media_id", "frame_idx", F.md5("frame").alias("frame_md5"), "n_bytes"
    )


PR_ITERS, PR_DAMP = 2, 0.85
DECAY_HL_DAYS = 7.0
SEAS_K = 2.0
PMI_MIN_COUNT = 5
JPJ_DOC_CAP, JPJ_T = 300, 0.5
COS_DOC_CAP, COS_T, COS_MAX_DF = 300, 0.35, 100
WS_N = 50


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # link analysis over the symmetrized customer–part co-purchase graph:
    # fixed 2-iteration PageRank (operators/graph.py) so the oracle can
    # unroll the same recurrence as plain CTEs.
    from semantic_index_spark.operators import graph as G

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
    )
    edges = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    pr = G.pagerank(edges, iterations=PR_ITERS, damping=PR_DAMP)
    return pr.select("node", F.round("rank", 6).alias("pr_rank"))


def q_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    # recency-weighted per-type engagement: exponentially decayed value sum
    # anchored at the dataset's max timestamp (timeseries.py).
    ev = load_table(spark, sf_dir, "events")
    return TS.time_decayed_sum(ev, "ts", "value", "event_type", DECAY_HL_DAYS)


def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hour-of-day seasonal baseline over (type, date, hour) event volumes;
    # flags buckets beyond ±k sample-stddev of their seasonal slot.
    ev = load_table(spark, sf_dir, "events")
    return TS.seasonal_anomaly(ev, "ts", "event_type", k=SEAS_K)


def q_term_label_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # which terms are distinctive of each language: doc-presence PMI with a
    # min-count floor (text_analysis.py).
    d = load_table(spark, sf_dir, "documents")
    return TA.term_label_pmi(d, label_col="lang", min_count=PMI_MIN_COUNT)


def q_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXACT set-similarity self-join via lossless prefix filtering — the
    # oracle is the literal O(N²) definition; Spark must reproduce it
    # row-for-row from the pruned candidate set only.
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < JPJ_DOC_CAP)
    return D.jaccard_prefix_join(d, threshold=JPJ_T)


def q_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sparse TF-IDF all-pairs cosine via inverted-index join (dedup.py).
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < COS_DOC_CAP)
    return D.cosine_allpairs_tfidf(d, threshold=COS_T, max_df=COS_MAX_DF)


LIFT_MIN_SUPPORT = 2


# Session-scoped co-purchase edge artifact (same contract as
# shared_lsh_pairs): three registry queries (triangle_count,
# motif_triangles, motif_open_wedges) consume the identical edge list —
# compute it once per (applicationId, sf_dir) and pin it.
def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _session_memo(
        spark, sf_dir, "copurchase", lambda: _build_copurchase_edges(spark, sf_dir)
    )


def _build_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # part–part "bought together" edges: distinct part pairs sharing an
    # order, canonical src<dst. ONE groupBy shuffle collects each order's
    # part set, the ordered pairs explode in-JVM (baskets are small — the
    # same Σ|basket|² shape as association_lift, with mining.py's
    # max_basket as the cap lever if baskets ever grow), then one distinct
    # — vs a lineitem self-join this halves the shuffles
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("_ps")
    )
    pairs = F.flatten(
        F.transform(
            F.col("_ps"),
            lambda x, i: F.transform(
                F.slice(F.col("_ps"), i + 2, F.size(F.col("_ps"))),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pairs).alias("_e"))
        .select("_e.src", "_e.dst")
        .distinct()
        .transform(pin, "copurchase_edges", "eager")
    )


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # triangle census of the co-purchase graph via degree-ordered wedge
    # counting (operators/graph.py) — the oracle is the literal ordered
    # 3-way self-join definition.
    from semantic_index_spark.operators import graph as G

    return G.triangle_count(_copurchase_edges(spark, sf_dir), assume_canonical=True)


def q_khop_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BFS layers over the symmetrized customer–part purchase graph: which
    # parts (hop 1), then which other customers (hop 2), sit within 2 hops
    # of the 3 seed customers (operators/graph.py; oracle unrolls the
    # rounds as CTEs).
    from semantic_index_spark.operators import graph as G

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
    )
    edges = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    seeds = (
        o.filter(F.col("o_custkey") < 3)
        .select(F.concat(F.lit("c"), F.col("o_custkey")).alias("node"))
        .distinct()
    )
    return G.khop_frontier(edges, seeds, k=KHOP_K)


def q_association_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # market-basket pair mining: co-occurrence counts + lift over orders
    # as baskets (operators/mining.py).
    from semantic_index_spark.operators import mining as MN

    li = load_table(spark, sf_dir, "lineitem")
    return MN.association_lift(
        li, "l_orderkey", "l_partkey", min_support=LIFT_MIN_SUPPORT
    )


LINK_MAX_DIST = 2
KCENTER_K = 8
SEGDEDUP_N = 3
RRF_TOPK = 20
RRF_K = 60
KHOP_K = 2
SH_MAX_HAMMING = 3
SH_PAIR_BITS = 32  # 8-bit pigeonhole blocks — 16-bit signatures are too
# dense for a meaningful hamming<=3 near-dup test (1% of RANDOM pairs hit)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lossless Hamming-≤t pair enumeration via the pigeonhole multi-index
    # (Manku et al. WWW'07) — oracle is the brute-force O(N²) definition.
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_hamming_pairs(
        d, bits=SH_PAIR_BITS, max_hamming=SH_MAX_HAMMING
    )


KANON_K = 5
DP_EPSILON = 0.5
SURV_CENSOR_DAYS = 7.0
LOGREG_STEPS = 2
BOOT_REPLICAS = 32


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Poisson bootstrap: B replica means in ONE pass (per-row Pois(1)
    # multiplicities from an md5 uniform), CI from the replica band
    # (operators/stats.py).
    from semantic_index_spark.operators import stats as ST

    ev = load_table(spark, sf_dir, "events")
    return ST.poisson_bootstrap_ci(ev, "value", "event_id", n_replicas=BOOT_REPLICAS)


def q_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distributed logistic-regression GD: per step one mergeable gradient
    # aggregation (d+1 floats to the driver), fixed steps so the oracle
    # can unroll the recurrence (operators/stats.py).
    from semantic_index_spark.operators import stats as ST

    ev = load_table(spark, sf_dir, "events")
    d2 = ev.select(
        (F.col("value") / 500.0).alias("value_s"),
        (F.hour("ts") / F.lit(24.0)).alias("hour_s"),
        (F.col("event_type") == "purchase").cast("double").alias("label"),
    )
    return ST.logistic_regression_gd(
        d2, ["value_s", "hour_s"], "label", steps=LOGREG_STEPS, lr=1.0
    )


def q_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Kaplan–Meier over user lifetimes with right-censoring near the
    # dataset horizon (operators/stats.py).
    from semantic_index_spark.operators import stats as ST

    ev = load_table(spark, sf_dir, "events")
    return ST.survival_curve(ev, censor_days=SURV_CENSOR_DAYS)


def q_ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A/A-shaped experiment readout: md5 hash-split arms, two-proportion
    # z on purchase conversion (operators/stats.py).
    from semantic_index_spark.operators import stats as ST

    ev = load_table(spark, sf_dir, "events")
    return ST.ab_test_zscore(ev)


def q_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus-governance concentration: HHI + Gini of the per-source doc
    # distribution (operators/stats.py).
    from semantic_index_spark.operators import stats as ST

    d = load_table(spark, sf_dir, "documents")
    return ST.concentration_index(d, "source")


FH_DIM = 64
NSW_POWER, NSW_TOP = 0.75, 100
COOC_WINDOW, COOC_MIN_PAIRS = 2, 5


def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hashing-trick features: unbounded vocab → fixed 64-bucket sparse
    # space, no vocabulary table (text_analysis.py).
    d = load_table(spark, sf_dir, "documents")
    return TA.feature_hashing(d, dim=FH_DIM)


def q_neg_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # word2vec negative-sampling head: unigram^0.75 distribution
    # (text_analysis.py).
    d = load_table(spark, sf_dir, "documents")
    return TA.negative_sampling_weights(d, power=NSW_POWER, top_n=NSW_TOP)


def q_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # GloVe-style windowed co-occurrence PMI: forward-offset explode,
    # never a corpus self-join on position (text_analysis.py).
    d = load_table(spark, sf_dir, "documents")
    return TA.word_cooccurrence_pmi(
        d, window=COOC_WINDOW, min_pairs=COOC_MIN_PAIRS
    )


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # release audit: which (nation, segment, balance-band) quasi-
    # identifier combos re-identify (< k rows) in the customer
    # projection (privacy.py).
    from semantic_index_spark.operators import privacy as PV

    c = load_table(spark, sf_dir, "customer").withColumn(
        "bal_band", F.floor(F.col("c_acctbal") / 1000).cast("int")
    )
    return PV.k_anonymity_audit(
        c, ["c_nationkey", "c_mktsegment", "bal_band"], k=KANON_K
    )


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # first-touch attribution: which session entry channel leads to
    # purchases — three windows over ONE user-key shuffle, then a
    # type-bounded rollup (timeseries.py).
    ev = load_table(spark, sf_dir, "events")
    return TS.first_touch_attribution(ev, conversion="purchase", gap_s=1800)


def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # schema-wide foreign-key audit: orphan counts per relation via one
    # left-anti join each, NULL keys tallied separately (pipeline.py).
    from semantic_index_spark.operators import pipeline as P

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    return P.referential_integrity(
        [
            ("orders_custkey", orders, "o_custkey", cust, "c_custkey"),
            ("lineitem_orderkey", li, "l_orderkey", orders, "o_orderkey"),
            ("events_user", ev, "user_id", cust, "c_custkey"),
        ]
    )


def q_model_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # reliability curve for the quality classifier: decile the corpus by
    # model score and report the target fraction per decile — a
    # calibrated separator should climb monotonically. Deciles come from
    # the range-partition global-ranking primitive (skew.py), never a
    # SinglePartition window; all arithmetic is integer-exact.
    scores = q_quality_model(spark, sf_dir)
    ranked = SK.global_ranks(scores, ["logit_micro", "doc_id"], rank_alias="r")
    tot = ranked.agg(F.count("*").cast("bigint").alias("_n"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .withColumn(
            "decile", F.expr("CAST(((r - 1) * 10) DIV _n AS INT)")
        )
        .groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("is_target").cast("bigint").alias("n_target"),
            F.round(
                F.sum("is_target").cast("double") / F.count("*"), 6
            ).alias("frac_target"),
        )
    )


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # first-order Markov transition matrix over per-user event streams:
    # one lag window, then the corpus collapses to the type x type grid
    # (timeseries.py). Integer-exact probabilities.
    ev = load_table(spark, sf_dir, "events")
    return TS.event_transition_matrix(ev)


def q_time_to_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # signup -> first-purchase latency distribution in whole days: ONE
    # user-key groupBy collapses the corpus to per-user first-event
    # times (conditional min — no self-join), then a day-bucket rollup
    # over the user-sized aggregate. NULL-safe: users with no purchase
    # after signup (never, or only before) land in the day = -1 row.
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.unix_timestamp("ts"))).alias(
            "signup_ts"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", F.unix_timestamp("ts"))
        ).alias("purchase_ts"),
    )
    lat = per_user.filter(F.col("signup_ts").isNotNull()).select(
        F.when(
            F.col("purchase_ts") >= F.col("signup_ts"),
            F.floor(
                (F.col("purchase_ts") - F.col("signup_ts")) / F.lit(86400)
            ).cast("int"),
        )
        .otherwise(F.lit(-1))
        .alias("days_to_convert")
    )
    return lat.groupBy("days_to_convert").agg(
        F.count("*").cast("bigint").alias("n_users")
    )


def q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact-proportion 80/10/10 split within every language stratum —
    # the per-stratum count guarantee hash_split trades away (skew.py).
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return SK.stratified_split(
        d, "lang", "doc_id", {"train": 8, "val": 1, "test": 1}
    )


def q_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # vocabulary-level drift between two corpus snapshots (even/odd doc
    # halves stand in for yesterday/today): per-term count deltas, top 20
    # by |delta| — the term-level complement of the scalar PSI monitor
    # (which terms MOVED, not just that the distribution did). Two
    # word-count aggregations + one full-outer merge on the term key;
    # all-integer, bounded top-k, deterministic (|delta| desc, tok asc).
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        (F.col("doc_id") % 2 == 0).alias("_old"),
        F.explode(T.tokens("text")).alias("tok"),
    )
    c_old = (
        tok.filter("_old").groupBy("tok").agg(F.count("*").alias("n_old"))
    )
    c_new = (
        tok.filter(~F.col("_old")).groupBy("tok").agg(F.count("*").alias("n_new"))
    )
    merged = (
        c_old.join(c_new, "tok", "full_outer")
        .select(
            "tok",
            F.coalesce("n_old", F.lit(0)).cast("bigint").alias("n_old"),
            F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
        )
        .withColumn("delta", (F.col("n_new") - F.col("n_old")).cast("bigint"))
    )
    return (
        merged.orderBy(F.abs("delta").desc(), F.col("tok").asc())
        .limit(20)
        .select("tok", "n_old", "n_new", "delta")
    )


def q_lsh_dedup_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # candidate-generator scorecard: precision/recall of the banded
    # MinHash-LSH pair finder against EXACT shingle-Jaccard truth at the
    # same threshold — the number that justifies (or indicts) the LSH
    # parameters before a 100 TB run. All three pair sets are hash
    # equi-join shaped; the ratios are exact integer arithmetic.
    d = load_table(spark, sf_dir, "documents")
    truth = D.ngram_jaccard_pairs(
        d, shingle_n=SHINGLE_N, threshold=JACCARD_THRESHOLD
    ).select("id_a", "id_b")
    cand = shared_lsh_pairs(spark, sf_dir)
    n_truth = truth.agg(F.count("*").cast("bigint").alias("n_truth"))
    n_cand = cand.agg(F.count("*").cast("bigint").alias("n_candidates"))
    n_hit = (
        truth.join(cand, ["id_a", "id_b"], "left_semi")
        .agg(F.count("*").cast("bigint").alias("n_hit"))
    )
    return (
        n_truth.crossJoin(n_cand)
        .crossJoin(n_hit)
        .select(
            "n_truth",
            "n_candidates",
            "n_hit",
            F.when(
                F.col("n_candidates") > 0,
                F.round(
                    F.col("n_hit").cast("double") / F.col("n_candidates"), 6
                ),
            ).alias("precision"),
            F.when(
                F.col("n_truth") > 0,
                F.round(F.col("n_hit").cast("double") / F.col("n_truth"), 6),
            ).alias("recall"),
        )
    )


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Heaps'-law vocabulary growth curve (the Zipf fit's companion
    # corpus-health check): cumulative distinct-token count after each
    # tenth of the corpus, in ONE pass — each token contributes new
    # vocabulary exactly at its FIRST document (min doc_id), so a
    # token-level min-groupBy + a decile rollup + a 10-row cumulative
    # window replaces ten prefix-distinct scans. All-integer.
    d = load_table(spark, sf_dir, "documents")
    nmax = d.agg((F.max("doc_id") + 1).alias("_n"))
    tok = d.select("doc_id", F.explode(T.tokens("text")).alias("tok")).crossJoin(
        F.broadcast(nmax)
    )
    bucketed = tok.withColumn(
        "decile", F.expr("CAST((doc_id * 10) DIV _n AS INT)")
    )
    toks_per = bucketed.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_tokens")
    )
    first_seen = bucketed.groupBy("tok").agg(F.min("decile").alias("decile"))
    vocab_per = first_seen.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_new_vocab")
    )
    from pyspark.sql import Window as W

    cum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    # the window runs over <= 10 rows — metric-sized, never the corpus
    return (
        toks_per.join(vocab_per, "decile", "full_outer")
        .select(
            "decile",
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce("n_new_vocab", F.lit(0)).cast("bigint").alias("n_new_vocab"),
        )
        .withColumn("cum_tokens", F.sum("n_tokens").over(cum).cast("bigint"))
        .withColumn("cum_vocab", F.sum("n_new_vocab").over(cum).cast("bigint"))
    )


def q_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    # churn-model training-set construction: per-user label (no activity
    # in the last 30 days before the dataset horizon) + the behavioral
    # features a model trains on — ONE conditional-agg groupBy over the
    # corpus, horizon broadcast as a 1-row aggregate. All-integer.
    ev = load_table(spark, sf_dir, "events")
    horizon = ev.agg(F.max(F.unix_timestamp("ts")).alias("_h"))
    per_user = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("bigint")
            .alias("n_purchases"),
            F.max(F.unix_timestamp("ts")).alias("_last"),
            F.min(F.unix_timestamp("ts")).alias("_first"),
        )
    )
    return per_user.crossJoin(F.broadcast(horizon)).select(
        "user_id",
        "n_events",
        "n_purchases",
        F.floor((F.col("_last") - F.col("_first")) / F.lit(86400))
        .cast("int")
        .alias("span_days"),
        (F.col("_last") < F.col("_h") - F.lit(30 * 86400))
        .cast("int")
        .alias("churned"),
    )


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # T5/mT5-style temperature sampling plan: per-source mixture weight
    # w_s ∝ n_s^0.5 (α=0.5 upsamples small sources without letting the
    # head dominate) and the effective epochs each source runs at the
    # resulting mix. α=0.5 = sqrt — the ONE power IEEE guarantees
    # correctly rounded, so fixed-pointing sqrt(n) to micro units makes
    # every downstream ratio an exact-integer division: hash-identical
    # across engines. One bounded groupBy; totals broadcast.
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").cast("bigint").alias("n_docs"))
    s = counts.withColumn(
        "_s",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * F.lit(1e6) + F.lit(0.5))
        .cast("bigint"),
    )
    tot = s.agg(
        F.sum("_s").cast("bigint").alias("_st"),
        F.sum("n_docs").cast("bigint").alias("_nt"),
    )
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.round(F.col("_s").cast("double") / F.col("_st"), 6).alias("weight"),
            F.round(
                (F.col("_s").cast("double") * F.col("_nt"))
                / (F.col("_st").cast("double") * F.col("n_docs")),
                6,
            ).alias("eff_epochs"),
        )
    )


def q_user_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    # burstiness coefficient B = (sigma - mu) / (sigma + mu) over each
    # user's inter-event gaps (Goh & Barabasi 2008): B -> -1 for
    # metronomic/scripted activity, ~0 Poisson, -> 1 bursty human
    # sessions — a one-number bot screen. One lag window + one groupBy;
    # mu/sigma derive from EXACT integer sums (gap, gap^2), sqrt is
    # correctly rounded, so the rounded coefficient is engine-stable.
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy(F.unix_timestamp("ts"), "event_id")
    gaps = (
        ev.withColumn(
            "_gap", F.unix_timestamp("ts") - F.lag(F.unix_timestamp("ts"), 1).over(w)
        )
        .filter(F.col("_gap").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_gaps"),
            F.sum("_gap").cast("bigint").alias("_s1"),
            F.sum(F.col("_gap") * F.col("_gap")).cast("bigint").alias("_s2"),
        )
        .filter(F.col("n_gaps") >= 5)
    )
    mu = F.col("_s1").cast("double") / F.col("n_gaps")
    var = F.col("_s2").cast("double") / F.col("n_gaps") - mu * mu
    sigma = F.sqrt(F.greatest(var, F.lit(0.0)))
    return gaps.select(
        "user_id",
        "n_gaps",
        F.when(sigma + mu > 0, F.round((sigma - mu) / (sigma + mu), 6)).alias(
            "burstiness"
        ),
    )


def q_cross_source_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # provenance rollup of near-duplication: how many near-dup pairs
    # land WITHIN each source vs ACROSS each source pair — the "which
    # providers copy from which" governance matrix. LSH pairs + two
    # source lookups (hash equi-joins on doc_id) + one bounded groupBy;
    # the source pair is canonicalized (least, greatest) so the matrix
    # is upper-triangular and deterministic.
    d = load_table(spark, sf_dir, "documents")
    pairs = shared_lsh_pairs(spark, sf_dir)
    src = d.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("_sa"))
    sb = src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("_sb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy(
            F.least("_sa", "_sb").alias("src_a"),
            F.greatest("_sa", "_sb").alias("src_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .withColumn("within_source", (F.col("src_a") == F.col("src_b")).cast("int"))
    )


def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DAU / trailing-7-day WAU / stickiness per day — the engagement
    # headline. Scalable shape: dedupe to (user, day) FIRST (one
    # partial-agg distinct), then each row supports exactly the 7 days
    # it counts toward (bounded ×7 in-JVM explode) → one count_distinct
    # per day. No sliding window state, no per-day rescans; stickiness
    # is an exact integer ratio.
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    ud = ev.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / F.lit(86400)).cast("bigint").alias("day"),
    ).distinct()
    dau = ud.groupBy("day").agg(F.count("*").cast("bigint").alias("dau"))
    supported = ud.select(
        "user_id", F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("day")
    )
    wau = supported.groupBy("day").agg(
        F.count_distinct("user_id").cast("bigint").alias("wau")
    )
    # restrict to days with actual activity (the leading 6 support-only
    # days per user would otherwise trail past the horizon)
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
                "stickiness"
            ),
        )
    )


def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    # weekly growth accounting (the new/retained/resurrected/churned
    # quadrant model): classify every (user, week) of activity against
    # the user's previous active week and first week — one (user, week)
    # dedupe, one keyed lag window, one bounded rollup. churned(w) =
    # users active in w-1 but not w, accounted by shifting each active
    # week forward and anti-classifying. All-integer.
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    from pyspark.sql import Window

    uw = ev.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / F.lit(7 * 86400)).cast("bigint").alias("week"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("week")
    flagged = uw.withColumn("_prev", F.lag("week", 1).over(w)).withColumn(
        "_first", F.min("week").over(Window.partitionBy("user_id"))
    )
    status = flagged.select(
        "week",
        F.when(F.col("week") == F.col("_first"), "new")
        .when(F.col("_prev") == F.col("week") - 1, "retained")
        .otherwise("resurrected")
        .alias("status"),
    )
    active = status.groupBy("week").pivot(
        "status", ["new", "retained", "resurrected"]
    ).count()
    # churned into week w+1: active in w but not in w+1
    nxt = uw.select("user_id", (F.col("week") + 1).alias("week"))
    churned = (
        nxt.join(uw, ["user_id", "week"], "left_anti")
        .groupBy("week")
        .agg(F.count("*").cast("bigint").alias("churned"))
    )
    return (
        active.join(churned, "week", "full_outer")
        .select(
            "week",
            F.coalesce("new", F.lit(0)).cast("bigint").alias("new"),
            F.coalesce("retained", F.lit(0)).cast("bigint").alias("retained"),
            F.coalesce("resurrected", F.lit(0)).cast("bigint").alias("resurrected"),
            F.coalesce("churned", F.lit(0)).cast("bigint").alias("churned"),
        )
    )


def q_source_embedding_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    # embedding-space source similarity (the semantic sibling of the
    # lexical MinHash source matrix): cosine between per-source SUM
    # vectors (= centroid cosine — scale-invariant, so no division by n
    # ever happens). Components fixed-point to 1e-3 BEFORE summing, so
    # the per-(source, dim) sums are exact integers and every pairwise
    # cosine derives from bit-identical values on both engines; the
    # quantization is a documented 1e-3 on unit-norm inputs. Shapes:
    # one dim-explode groupBy (|sources|·d rows), then a dim equi-join
    # over that metric-sized table.
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    dims = (
        emb.join(docs, "vec_id")
        .select("source", F.posexplode("embedding").alias("dim", "_v"))
        .groupBy("source", "dim")
        .agg(
            F.sum(
                F.floor(F.col("_v").cast("double") * F.lit(1e3) + F.lit(0.5))
                .cast("bigint")
            ).alias("s")
        )
    )
    a = dims.select(F.col("source").alias("src_a"), "dim", F.col("s").alias("_sa"))
    b = dims.select(F.col("source").alias("src_b"), "dim", F.col("s").alias("_sb"))
    prods = (
        a.join(b, "dim")
        .filter(F.col("src_a") <= F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.sum(F.col("_sa") * F.col("_sb")).cast("bigint").alias("_dot"))
    )
    norms = prods.filter(F.col("src_a") == F.col("src_b")).select(
        F.col("src_a").alias("_src"), F.col("_dot").alias("_nsq")
    )
    na = norms.select(F.col("_src").alias("src_a"), F.col("_nsq").alias("_na"))
    nb = norms.select(F.col("_src").alias("src_b"), F.col("_nsq").alias("_nb"))
    return (
        prods.filter(F.col("src_a") < F.col("src_b"))
        .join(na, "src_a")
        .join(nb, "src_b")
        .select(
            "src_a",
            "src_b",
            F.round(
                F.col("_dot").cast("double")
                / (F.sqrt(F.col("_na").cast("double")) * F.sqrt(F.col("_nb").cast("double"))),
                6,
            ).alias("cosine"),
        )
    )


def q_pareto_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lorenz/Pareto concentration curve: what share of total revenue the
    # top decile / quintile / ... of customers carries — the curve-shaped
    # view behind the scalar Gini/HHI indices. Revenue fixed-points to
    # exact integer cents BEFORE any sum; deciles come from the
    # range-partition global-ranking primitive (rank by cents desc via
    # rank on (-cents, key) — never a SinglePartition window); cumulative
    # share is an exact-integer ratio over the 10-row rollup.
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey").isNotNull())
    cust = o.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(100) + F.lit(0.5)).cast("bigint")
        ).alias("cents")
    )
    ranked = SK.global_ranks(
        cust.withColumn("_neg", -F.col("cents")), ["_neg", "o_custkey"], rank_alias="r"
    )
    tot = ranked.agg(
        F.count("*").cast("bigint").alias("_n"),
        F.sum("cents").cast("bigint").alias("_tot"),
    )
    from pyspark.sql import Window

    cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # the cumulative window runs over <= 10 rows — metric-sized
    return (
        ranked.crossJoin(F.broadcast(tot))
        .withColumn("decile", F.expr("CAST(((r - 1) * 10) DIV _n AS INT)"))
        .groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum("cents").cast("bigint").alias("cents"),
            F.first("_tot").alias("_tot"),
        )
        .withColumn(
            "cum_share",
            F.round(
                F.sum("cents").over(cum).cast("double") / F.col("_tot"), 6
            ),
        )
        .select("decile", "n_customers", "cents", "cum_share")
    )


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RFM segmentation (the CRM workhorse): per-customer recency /
    # frequency / monetary quintile scores 1-5 and the concatenated
    # segment label. Each dimension's quintiles come from the
    # range-partition global-ranking primitive with the (rank-1)*5 DIV n
    # integer bucketing — three bounded ranking passes, never an
    # unpartitioned ntile; monetary fixed-points to exact cents; all
    # tie-breaks by custkey so the segmentation is engine-stable.
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey").isNotNull())
    base = o.groupBy("o_custkey").agg(
        F.max(F.unix_timestamp("o_orderdate")).alias("_last"),
        F.count("*").cast("bigint").alias("frequency"),
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(100) + F.lit(0.5)).cast("bigint")
        ).alias("monetary_cents"),
    )
    n = base.count()  # bounded driver scalar: |customers| is known-finite

    def score(df, order_col, alias):
        ranked = SK.global_ranks(df, [order_col, "o_custkey"], rank_alias="_r")
        return ranked.withColumn(
            alias, F.expr(f"CAST(((_r - 1) * 5) DIV {n} AS INT) + 1")
        ).drop("_r")
    # ascending rank puts the best (most recent / most frequent / highest
    # spend) in the top bucket, so score 5 = best on every dimension
    scored = score(base, "_last", "r_score")
    scored = score(scored.withColumn("_f", F.col("frequency")), "_f", "f_score").drop("_f")
    scored = score(
        scored.withColumn("_m", F.col("monetary_cents")), "_m", "m_score"
    ).drop("_m")
    return scored.select(
        "o_custkey",
        "frequency",
        "monetary_cents",
        "r_score",
        "f_score",
        "m_score",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("rfm"),
    )


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cohort LTV curves: cumulative purchase revenue per signup-week
    # cohort at each age-week — the payback-period readout next to the
    # activity retention matrix. Cohort = user's first active week (one
    # min-groupBy), revenue fixed-points to exact cents, the cumulative
    # runs per-cohort over the tiny (cohort × age) grid.
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    from pyspark.sql import Window

    wk = F.floor(F.unix_timestamp("ts") / F.lit(7 * 86400)).cast("bigint")
    first = ev.groupBy("user_id").agg(F.min(wk).alias("cohort"))
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", wk.alias("week"),
                F.floor(F.col("value") * F.lit(100) + F.lit(0.5))
                .cast("bigint").alias("cents"))
        .join(first, "user_id")
        .groupBy("cohort", (F.col("week") - F.col("cohort")).alias("age_weeks"))
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    cum = (
        Window.partitionBy("cohort")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sizes = first.groupBy("cohort").agg(
        F.count("*").cast("bigint").alias("cohort_users")
    )
    return (
        rev.withColumn("cum_cents", F.sum("cents").over(cum).cast("bigint"))
        .join(sizes, "cohort")
        .select(
            "cohort",
            "age_weeks",
            "cohort_users",
            "cents",
            "cum_cents",
            F.round(
                F.col("cum_cents").cast("double") / F.col("cohort_users") / 100.0, 6
            ).alias("ltv_per_user"),
        )
    )


def q_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CUPED variance reduction (Deng et al. 2013, the industry-standard
    # A/B sensitivity booster): adjust each user's post-period metric by
    # theta * (pre-period - pooled pre mean), theta = cov(pre,post)/
    # var(pre). Per-user pre/post purchase cents are EXACT integers; n,
    # Σx, Σy, Σxy, Σx², Σy² are exact integer sums, so theta, the
    # adjusted group means, and the ρ² variance-reduction factor are
    # deterministic doubles with mirrored expression order — hash-equal
    # cross-engine. Two groupBys + two 1-row broadcasts; no per-user
    # state leaves the executors.
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    # integer DIV: double-division halving truncates in Spark but a
    # double->bigint cast ROUNDS in DuckDB — integer arithmetic sidesteps
    span = ev.agg(
        F.min(F.unix_timestamp("ts")).alias("_mn"),
        F.max(F.unix_timestamp("ts")).alias("_mx"),
    ).select(F.expr("CAST((_mn + _mx) DIV 2 AS BIGINT)").alias("_mid"))
    cents = F.floor(F.col("value") * F.lit(100) + F.lit(0.5)).cast("bigint")
    per_user = (
        ev.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.unix_timestamp("ts") < F.col("_mid")),
                    cents,
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("x"),
            F.sum(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.unix_timestamp("ts") >= F.col("_mid")),
                    cents,
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("y"),
        )
        .withColumn(
            "grp",
            F.when(
                F.pmod(
                    T.md5_bigint(F.col("user_id").cast("string"), salt="ab:"),
                    F.lit(2),
                )
                == 0,
                "control",
            ).otherwise("treatment"),
        )
    )
    stats = per_user.agg(
        F.count("*").cast("bigint").alias("_n"),
        F.sum("x").cast("bigint").alias("_sx"),
        F.sum("y").cast("bigint").alias("_sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("_sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("_sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("_syy"),
    )
    num = (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    den = (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    vary = (F.col("_n") * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast("double")
    theta = num / den
    xbar = F.col("_sx").cast("double") / F.col("_n")
    return (
        per_user.groupBy("grp")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum("y").cast("bigint").alias("_syg"),
            F.sum("x").cast("bigint").alias("_sxg"),
        )
        .crossJoin(F.broadcast(stats))
        .select(
            "grp",
            "n_users",
            F.round(F.col("_syg").cast("double") / F.col("n_users"), 6).alias(
                "mean_post"
            ),
            F.round(
                F.col("_syg").cast("double") / F.col("n_users")
                - theta
                * (F.col("_sxg").cast("double") / F.col("n_users") - xbar),
                6,
            ).alias("mean_adj"),
            F.round(theta, 6).alias("theta"),
            F.round(num * num / (den * vary), 6).alias("var_reduction"),
        )
    )


def q_dup_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-document near-dup degree: how many near-dup partners each doc
    # has — the "boilerplate-ness" signal (template pages accumulate
    # high degree; unique prose sits at 0). Symmetrize the LSH pairs,
    # one groupBy, left join back so undubbed docs report 0 explicitly.
    d = load_table(spark, sf_dir, "documents")
    pairs = shared_lsh_pairs(spark, sf_dir)
    sym = pairs.select(F.col("id_a").alias("doc_id")).unionAll(
        pairs.select(F.col("id_b").alias("doc_id"))
    )
    deg = sym.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("dup_degree"))
    return d.select("doc_id").join(deg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("dup_degree", F.lit(0)).cast("bigint").alias("dup_degree"),
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q8 (national market share): the 8-relation join chain —
    # part, supplier, lineitem, orders, customer, nation×2, region —
    # with the share-of-total CASE ratio per order year. All dims
    # broadcast; lineitem is the only fact-sized side, one pipeline of
    # broadcast hash joins, one groupBy(year). Ref: TPC-H spec Q8,
    # predicates adapted to the synthetic domains (PROMO parts sold into
    # ASIA; share held by NATION_2's suppliers).
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    n1 = load_table(spark, sf_dir, "nation").alias("n1")
    n2 = load_table(spark, sf_dir, "nation").alias("n2")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1.n_nationkey"))
        .join(F.broadcast(region), F.col("n1.n_regionkey") == region.r_regionkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2.n_nationkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-01-01"))
        )
        .select(
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            F.col("n2.n_name").alias("nation"),
        )
    )
    return vol.groupBy("o_year").agg(
        F.round(
            F.sum(F.when(F.col("nation") == "NATION_2", F.col("volume")).otherwise(0.0))
            / F.sum("volume"),
            6,
        ).alias("mkt_share")
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q6: the pure scan-and-aggregate revenue-change forecast —
    # every predicate pushes to the parquet scan, one partial agg, no
    # shuffle of consequence.
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q13: customer order-count distribution — LEFT OUTER join so
    # zero-order customers land in the c_count=0 bucket, then a
    # distribution-of-a-distribution double groupBy. All-integer.
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").cast("bigint").alias("custdist")
    )


def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q14: promo revenue share for one ship-month — conditional
    # ratio over a broadcast part join.
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-03-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_revenue_pct")
        )
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q15: top supplier(s) by quarterly revenue — per-supplier
    # partial-agg rollup, revenue ROUNDED(2) before the max compare so
    # the tie set is engine-identical; the max is a 1-row broadcast.
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_mx"))
        .select("l_suppkey", "total_revenue")
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q17: revenue lost to small-quantity orders of one brand —
    # the correlated avg-quantity subquery de-correlates to a per-part
    # aggregate joined back (Catalyst does the same to the SQL form).
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    avg_q = joined.groupBy("p_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("_thr")
    )
    return (
        joined.join(F.broadcast(avg_q), "p_partkey")
        .filter(F.col("l_quantity") < F.col("_thr"))
        .agg(
            F.round(F.sum("l_extendedprice") / F.lit(7.0), 2).alias("avg_yearly")
        )
    )


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q18: orders whose total quantity exceeds the threshold, with
    # the owning customer — HAVING over an integer-valued sum, then two
    # joins to attach customer/order attributes.
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 230)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("total_qty", 2).alias("total_qty"),
        )
    )


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q19: the disjunctive (brand, size, quantity) predicate
    # blocks — Catalyst pushes the common join key and ORs the rest.
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    block = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size").between(1, 5))
            & (F.col("l_quantity").between(1, 11))
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & (F.col("p_size").between(1, 10))
            & (F.col("l_quantity").between(10, 20))
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & (F.col("p_size").between(1, 15))
            & (F.col("l_quantity").between(20, 30))
        )
    )
    return j.filter(block).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q22 (adapted: no phone column → nation grouping; "no orders"
    # → no RECENT orders, so the result is non-empty at every SF):
    # above-average-balance customers inactive since 2000, counted per
    # nation. The global average is a 1-row broadcast; the inactivity
    # check is a left-anti join against recent orders.
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("_avg")
    )
    recent = orders.filter(F.col("o_orderdate") >= F.lit("2000-01-01")).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .join(recent.distinct(), "c_custkey", "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("bigint").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


def _derived_supply(li: DataFrame) -> DataFrame:
    """The schema has no partsupp table, so the TPC-H queries that need one
    (Q2/Q9/Q11/Q20) derive a supply relation from observed shipments: one
    row per (l_partkey, l_suppkey) with the best observed unit price as the
    supply cost, in EXACT INTEGER CENTS. l_extendedprice is a 2-decimal
    value, so round(100*x) recovers the same BIGINT on every engine and the
    truncating integer division keeps everything downstream engine-exact —
    a round(double, 2) here diverged between Spark (BigDecimal HALF_UP) and
    DuckDB at half-cent boundaries."""
    unit_cents = F.expr(
        "CAST(round(100 * l_extendedprice) AS BIGINT) div CAST(l_quantity AS BIGINT)"
    )
    return li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(unit_cents).alias("cost_cents")
    )


_DUCK_SUPPLY = """
    SELECT l_partkey, l_suppkey,
           min(round(100 * l_extendedprice)::BIGINT // l_quantity::BIGINT)
               AS cost_cents
    FROM lineitem GROUP BY 1, 2
"""


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q2 (adapted: supply cost derived from shipments, see
    # _derived_supply): for each LARGE part of size <= 5, the EUROPE
    # supplier(s) offering the minimum cost. The correlated min subquery
    # de-correlates to a per-part aggregate joined back; every dimension
    # side is a broadcast.
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 5)
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu_supp = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "n_name", "s_acctbal")
    )
    offers = (
        _derived_supply(li.join(F.broadcast(part.select("p_partkey")),
                                li.l_partkey == F.col("p_partkey")).drop("p_partkey"))
        .join(F.broadcast(eu_supp), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    best = offers.groupBy("l_partkey").agg(F.min("cost_cents").alias("_best"))
    return (
        offers.join(F.broadcast(best), "l_partkey")
        .filter(F.col("cost_cents") == F.col("_best"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "s_name",
            "n_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
            F.round(F.col("cost_cents") / 100.0, 2).alias("supplycost"),
        )
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q4 (adapted: no commit/receipt dates → "late" means shipped
    # more than 90 days after the order date): quarterly order counts by
    # priority for orders with at least one late line. EXISTS becomes a
    # LEFT SEMI join whose condition carries the correlated date compare.
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (
            li.l_shipdate.cast("date")
            > F.date_add(orders.o_orderdate.cast("date"), 90)
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("order_count")
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q9 (adapted: supply cost from _derived_supply; part filter is
    # a p_name LIKE): profit by supplier nation and order year. The money
    # math runs in integer cents (round once per row, sum exactly) so the
    # cross-engine sum is bit-identical regardless of addition order.
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%blue%"))
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    base = li.join(F.broadcast(part.select("p_partkey")),
                   li.l_partkey == F.col("p_partkey")).drop("p_partkey")
    supply = _derived_supply(base)
    # money in exact 1e-4-dollar units: price and discount are 2-decimal
    # values, so round(100*x) recovers exact BIGINTs and the whole profit
    # sum is integer arithmetic — no float addition order to diverge.
    rev_u = F.round(F.lit(100) * F.col("l_extendedprice")).cast("bigint") * (
        F.lit(100) - F.round(F.lit(100) * F.col("l_discount")).cast("bigint")
    )
    cost_u = F.col("cost_cents") * F.col("l_quantity").cast("bigint") * F.lit(100)
    return (
        base.join(supply, ["l_partkey", "l_suppkey"])
        .join(orders.select("o_orderkey", "o_orderdate"),
              base.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(supp), base.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(rev_u - cost_u).alias("_u"))
        # half-up to cents in INTEGER space (floor((u+50)/100)) — a
        # round(u/10000.0, 2) here lands on half-cent boundaries where
        # Spark's BigDecimal HALF_UP and DuckDB's scaled-double round
        # disagree by one cent.
        .select(
            "nation",
            "o_year",
            (
                F.floor((F.col("_u") + F.lit(50)) / F.lit(100)) / F.lit(100.0)
            ).alias("sum_profit"),
        )
    )


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q11 (adapted: "stock value" = shipped quantity x derived
    # supply cost for one nation's suppliers): parts worth more than 2x
    # the average part value. The real Q11 scales its share fraction by
    # 1/SF; comparing against the mean is the scale-free equivalent (a
    # fixed share returns nothing once the part count grows). Integer-
    # cents arithmetic end to end — the threshold compares exact BIGINTs,
    # so no float boundary can flip a row between engines. The total is a
    # 1-row broadcast.
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    nat_supp = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select("s_suppkey")
    shipped = li.join(F.broadcast(nat_supp), li.l_suppkey == F.col("s_suppkey"))
    supply = _derived_supply(shipped)
    qty = shipped.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").cast("bigint").alias("qty")
    )
    value = (
        qty.join(supply, ["l_partkey", "l_suppkey"])
        .groupBy("l_partkey")
        .agg(F.sum(F.col("cost_cents") * F.col("qty")).alias("_cents"))
    )
    total = value.agg(
        F.sum("_cents").alias("_total"), F.count("*").alias("_n")
    )
    return (
        value.crossJoin(F.broadcast(total))
        .filter(F.col("_cents") * F.col("_n") > F.lit(2) * F.col("_total"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round(F.col("_cents") / 100.0, 2).alias("value"),
        )
    )


def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q16 (adapted: the supplier relation comes from observed
    # shipments; the "complaints" exclusion becomes negative account
    # balance): distinct supplier counts per (brand, type, size) bucket.
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    )
    bad_supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    pairs = (
        li.select("l_partkey", "l_suppkey")
        .join(F.broadcast(bad_supp), li.l_suppkey == F.col("s_suppkey"),
              "left_anti")
        .distinct()
    )
    return (
        pairs.join(F.broadcast(part), pairs.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


def q20_promotion_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q20 (adapted: "excess availability" = a supplier shipped more
    # than 40% of its all-time volume of a blue part since 1999): AFRICA
    # suppliers with at least one such part. The per-(supplier, part)
    # quantities are exact integer-valued sums, so the 40% compare uses
    # 10*recent > 4*total in BIGINTs — engine-exact. EXISTS is the final
    # distinct-supplier projection of the qualifying aggregate.
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%blue%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AFRICA")
    qty = (
        li.join(F.broadcast(part.select("p_partkey")),
                li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum("l_quantity").cast("bigint").alias("qty_all"),
            F.sum(
                F.when(
                    F.col("l_shipdate") >= F.lit("1999-01-01"), F.col("l_quantity")
                ).otherwise(0.0)
            ).cast("bigint").alias("qty_recent"),
        )
        .filter((F.col("qty_recent") * 10) > (F.col("qty_all") * 4))
    )
    candidates = qty.select("l_suppkey").distinct()
    return (
        candidates.join(F.broadcast(supp),
                        candidates.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name")
    )


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q21 (adapted: "late" = shipped >90 days after the order date):
    # AFRICA suppliers who were the SOLE late supplier on a finalized
    # multi-supplier order, counted by distinct order. The EXISTS /
    # NOT-EXISTS pair de-correlates to one per-order aggregate (distinct
    # suppliers vs distinct late suppliers) — one shuffle on the order key
    # instead of two correlated joins.
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AFRICA")
    lines = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).withColumn(
        "_late",
        F.col("l_shipdate").cast("date")
        > F.date_add(F.col("o_orderdate").cast("date"), 90),
    )
    per_order = lines.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("_n_supp"),
        F.countDistinct(F.when(F.col("_late"), F.col("l_suppkey"))).alias(
            "_n_late"
        ),
    )
    sole_late = per_order.filter(
        (F.col("_n_supp") > 1) & (F.col("_n_late") == 1)
    ).select("l_orderkey")
    blamed = (
        lines.filter(F.col("_late"))
        .join(sole_late, "l_orderkey", "left_semi")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        blamed.join(F.broadcast(supp), blamed.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
    )


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the homogeneity-attack audit k-anonymity misses: (nation, balance-
    # band) groups where fewer than 3 distinct market segments appear —
    # group membership alone leaks the segment (privacy.py). Bands of
    # 100 keep groups small enough that violations exist at every SF.
    from semantic_index_spark.operators import privacy as PV

    c = load_table(spark, sf_dir, "customer").withColumn(
        "bal_band", F.floor(F.col("c_acctbal") / 100).cast("int")
    )
    return PV.l_diversity_audit(
        c, ["c_nationkey", "bal_band"], sensitive_col="c_mktsegment", ell=3
    )


def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Laplace count release with md5-deterministic noise (privacy.py —
    # the determinism is the test-mode caveat, documented in the op).
    from semantic_index_spark.operators import privacy as PV

    ev = load_table(spark, sf_dir, "events")
    return PV.dp_noisy_counts(ev, "event_type", epsilon=DP_EPSILON)


WINSOR_LO, WINSOR_HI = 0.05, 0.95


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # robust per-type aggregates: clip at the per-group P5/P95 band, then
    # mean/std — extremes can't drag the baseline (timeseries.py).
    ev = load_table(spark, sf_dir, "events")
    return TS.winsorized_stats(ev, "value", "event_type", WINSOR_LO, WINSOR_HI)


def q_chi_square_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # does the event mix differ by user cohort: Pearson χ² independence
    # over the (event_type, md5-free modulo cohort) contingency table.
    from semantic_index_spark.operators import stats as ST

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .withColumn("cohort", F.concat(F.lit("c"), F.pmod("user_id", F.lit(3))))
    )
    return ST.chi_square_independence(ev, "event_type", "cohort")


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # first-digit Benford screen over order totals (organic heavy-tailed
    # quantity — the per-digit χ² contributions are the audit signal).
    from semantic_index_spark.operators import stats as ST

    o = load_table(spark, sf_dir, "orders")
    return ST.benford_audit(o, "o_totalprice")


def q_rp_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Johnson–Lindenstrauss random projection onto the shared fixed
    # planes: map-only codegen dim reduction (operators/linalg.py).
    from semantic_index_spark.operators import linalg as LA

    emb = load_table(spark, sf_dir, "embeddings")
    return LA.random_projection(emb, PLANES).select(
        "vec_id", *[f"rp{i}" for i in range(len(PLANES))]
    )


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # serving-side diversity rerank over the distributed candidate pool —
    # greedy selection is iterative → rows-only driver check; λ=1 ≡ pure
    # cosine top-k is pytest-asserted.
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 7).collect()[0]["embedding"]
    return S.mmr_rerank(emb, list(q), k=KNN_K, pool=100, lam=0.7)


def q_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    # diversity-maximizing exemplar selection: greedy k-center
    # (farthest-point) over the embeddings — iterative like kmeans, so
    # rows-only for the driver; numpy-reference parity is pytest-asserted.
    emb = load_table(spark, sf_dir, "embeddings")
    return S.greedy_kcenter(emb, k=KCENTER_K)


def q_blocked_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # entity resolution with explicit blocking: candidate pairs only
    # within a (nation, segment) block, banded-Levenshtein verify
    # (dedup.py) — the two-column block is the realistic contract (a true
    # match shares both) and bounds Σ|block|².
    c = load_table(spark, sf_dir, "customer")
    return D.blocked_linkage(
        c,
        "c_custkey",
        "c_name",
        ["c_nationkey", "c_mktsegment"],
        max_dist=LINK_MAX_DIST,
    )


@contextlib.contextmanager
def _stream_shuffle_partitions(spark: SparkSession):
    """Temporarily tune the session for a stateful streaming replay; the
    session values are restored after. Two knobs:

    * shuffle partitions lowered to 8: the state store pays a
      per-partition-per-epoch checkpoint cost (files + fsync), so 32 state
      partitions for a few thousand rows is almost pure overhead. Each
      replay starts a FRESH checkpoint, so the partition count is free to
      differ per query. At real scale you size this to state volume,
      exactly like a batch shuffle.
    * no-data micro-batches OFF: after the sources drain, availableNow
      schedules one extra EMPTY batch purely to advance the watermark —
      a full state-store-commit round (measured ~1.2 s on the
      stream-stream join replay; one wasted cluster-wide barrier at real
      scale). None of the replay rows emit on watermark advance (their
      sinks are foreachBatch ledgers, update/complete modes, or
      watermark-free append), so the flush batch produces nothing —
      every replay's emitted rows are oracle-locked identical. A
      pipeline whose final results ARE watermark-gated (append-mode
      windowed aggregation) must keep the default instead."""
    keys = {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.streaming.noDataMicroBatches.enabled": "false",
    }
    old = {k: spark.conf.get(k) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _write_one_file_parquet(df: DataFrame, scratch: str, dest: str) -> None:
    """Materialize ``df`` as exactly ONE parquet file at ``dest`` — each
    file is one micro-batch for a ``_file_stream``."""
    df.coalesce(1).write.mode("overwrite").parquet(scratch)
    part = next(f for f in os.listdir(scratch) if f.startswith("part-"))
    shutil.move(os.path.join(scratch, part), dest)
    shutil.rmtree(scratch)


# Session-scoped cache of replay-query micro-batch SOURCE files. Every
# stream_*_replay query feeds on a deterministic function of the testdata
# tables, so the source files are identical across bench reps — rewriting
# them per rep (3-4 coalesce(1) jobs each) was most of the replay queries'
# bench cost without exercising anything the stream itself doesn't. Sources
# are written once per (applicationId, sf_dir, tag) and reused; checkpoint
# dirs and any MUTATED outputs (merge tables, sketch tables, index state)
# remain strictly per-run.
def _replay_sources(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    batches: "list[tuple[str, DataFrame]]",
) -> str:
    def write() -> str:
        root = _session_root(f"replay_src_{tag}")
        for rel, df in batches:
            dest = os.path.join(root, rel)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            _write_one_file_parquet(df, os.path.join(root, "_scratch"), dest)
        return root

    return _session_memo(spark, sf_dir, f"replay_src_{tag}", write)


def _file_stream(spark: SparkSession, schema: str, path: str) -> DataFrame:
    """Parquet files under ``path`` as a stream, one file per micro-batch."""
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)


def q_versioned_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The versioned store as a Structured Streaming SOURCE
    (``sources/versioned_stream.py``, r10 — Delta table-as-stream-source
    semantics via the Spark 4 Python DataSourceStreamReader API, offsets
    = commit versions): three deterministic customer snapshots commit,
    then ONE availableNow drain consumes the whole feed through a real
    readStream→parquet-sink pipeline with a checkpoint. The output is
    every emitted row tagged with its ``_version``; the oracle rebuilds
    the three commit contents relationally and unions them with literal
    version tags, so a dropped commit, a double-read, or a mis-tagged
    version breaks the hash. Restart/bucketed/DV/schema-evolution feed
    semantics are pytest-locked (tests/test_streaming.py)."""
    from semantic_index_spark.sources import versioned as VER
    from semantic_index_spark.sources.versioned_stream import register_versioned_feed
    from semantic_index_spark.streaming import ingest as SI

    c = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    base = c.select(F.col("c_custkey").alias("id"), cents.alias("cents"))
    with _scratch("vfeed_") as tmp:
        table = os.path.join(tmp, "t")
        VER.commit_version(base.filter(F.col("id") <= 100), table)
        VER.commit_version(
            base.filter(F.col("id") <= 150).select(
                "id", (F.col("cents") + 7).alias("cents")
            ),
            table,
        )
        VER.commit_version(
            base.filter((F.col("id") % 2 == 0) & (F.col("id") <= 150)).select(
                "id", (F.col("cents") * 2).alias("cents")
            ),
            table,
        )
        register_versioned_feed(spark)
        sink, ckpt = os.path.join(tmp, "sink"), os.path.join(tmp, "ckpt")
        SI.run_batch_like(
            spark.readStream.format("versioned_feed")
            .option("table", table)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
        )
        out = (
            spark.read.parquet(sink)
            .select("id", "cents", F.col("_version").alias("version"))
            .orderBy("version", "id")
            .transform(pin, "versioned_feed: out", "eager")
        )
    return out


def q_streaming_upsert_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's streaming ingest contract end-to-end
    (`SemanticDatabase.cs:213-221` AddRangeAsync(IAsyncEnumerable) →
    readStream + foreachBatch upsert): replay 3 overlapping micro-batches
    of document items through stream_upsert_into_index under the default
    UPDATE policy, then surface the final index state. Batch b carries
    doc_id residues {b, b+1} mod 4, so residues 1 and 2 arrive twice and
    the upsert's remove-then-add dedup is what makes the final state one
    row per distinct item (ALLOW would duplicate them — the oracle's
    DISTINCT would catch it)."""
    from semantic_index_spark.index import SemanticIndex
    from semantic_index_spark.streaming import ingest as SI

    docs = load_table(spark, sf_dir, "documents")
    item = F.concat(
        F.lit('{"id":'),
        F.col("doc_id").cast("string"),
        F.lit(',"lang":"'),
        F.col("lang"),
        F.lit('"}'),
    ).alias("item")
    src = os.path.join(
        _replay_sources(
            spark,
            sf_dir,
            "upsert",
            [
                (
                    f"src/batch{b}.parquet",
                    docs.filter(
                        (F.col("doc_id") % 4 == b)
                        | (F.col("doc_id") % 4 == (b + 1) % 4)
                    ).select(item),
                )
                for b in range(3)
            ],
        ),
        "src",
    )
    with _scratch("upsert_replay_") as tmp:
        idx = SemanticIndex(spark)
        stream = _file_stream(spark, "item string", src)
        writer = SI.stream_upsert_into_index(
            stream, idx, checkpoint=os.path.join(tmp, "ckpt")
        )
        with _stream_shuffle_partitions(spark):
            SI.run_batch_like(writer)
        # pin the final state before the source files vanish (every batch
        # was pinned inside foreachBatch, but the extra pin makes
        # the returned plan self-contained)
        final = pin(idx.records.select("item"), "streaming_upsert_replay: final", "eager")
    return final



def q_stream_merge_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE INTO the bucketed versioned table end-to-end
    (streaming/ingest.merge_stream_sink): seed the table from documents
    (doc_id % 3 != 0), then replay two micro-batches of CDC rows —
    tombstones for doc_id % 6 == 0, +1000 upserts for % 6 == 2, +2000
    upserts for % 6 == 4 — through foreachBatch incremental merges (one
    committed version per batch, only touched buckets rewritten, epoch
    ledger in the manifest). Batch key sets are DISJOINT so the final
    state is independent of file-arrival order; the oracle applies the
    same changes relationally in one expression."""
    from semantic_index_spark.sources import versioned as VER
    from semantic_index_spark.streaming import ingest as SI

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    target = d.filter(F.col("doc_id") % 3 != 0)
    b1 = d.filter((F.col("doc_id") % 6 == 0) | (F.col("doc_id") % 6 == 2)).select(
        "doc_id",
        (F.col("n_chars") + 1000).alias("n_chars"),
        F.when(F.col("doc_id") % 6 == 0, F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
    )
    b2 = d.filter(F.col("doc_id") % 6 == 4).select(
        "doc_id", (F.col("n_chars") + 2000).alias("n_chars"), F.lit("upsert").alias("op")
    )
    src = os.path.join(
        _replay_sources(
            spark,
            sf_dir,
            "merge",
            [(f"feed/batch{i}.parquet", b) for i, b in enumerate((b1, b2))],
        ),
        "feed",
    )
    with _scratch("stream_merge_") as tmp:
        tbl = os.path.join(tmp, "docs_tbl")
        VER.create_bucketed(target, tbl, ["doc_id"], n_buckets=16)
        stream = _file_stream(spark, "doc_id bigint, n_chars bigint, op string", src)
        sink = SI.merge_stream_sink(tbl, op_col="op")
        with _stream_shuffle_partitions(spark):
            SI.run_batch_like(
                stream.writeStream.foreachBatch(sink)
                .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            )
        final = pin(VER.read_bucketed(spark, tbl), "stream_merge_replay: final", "eager")
    return final



def q_stream_indexed_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE into an INDEXED table (r13 — VERDICT r12 #9's
    second option, closing the claimed gap that incremental index sinks
    served standalone layouts only): ``merge_stream_sink`` delegates to
    ``merge_into_bucketed``, which maintains EVERY co-committed index
    inside each micro-batch's own staged commit — so a streamed table
    and its co-committed IVF-SQ8 index can never be observed apart, at
    any epoch, with exactly-once via the manifest epoch ledger.
    Embeddings < 100 seed the table, the index attaches, then two
    DISJOINT-key micro-batches (rescale every 9th id; insert 8 new ids)
    replay through foreachBatch; the exhaustive-exact serve at the end
    must equal brute force over the replayed state — a stale shard from
    either epoch breaks the hash. Per-epoch consistency and replayed-
    epoch skipping are pytest-locked
    (``test_merge_stream_sink_maintains_cocommitted_index``)."""
    from semantic_index_spark.sources import indexed as IDX
    from semantic_index_spark.sources import versioned as VER
    from semantic_index_spark.streaming import ingest as SI

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    base = emb.select(F.col("vec_id").alias("id"), "embedding")
    q = emb.filter(F.col("vec_id") == 11).collect()[0]["embedding"]
    b1 = base.filter(F.col("id") % 9 == 0).select(
        "id",
        F.transform(
            "embedding", lambda x: x * F.lit(3.0).cast("float")
        ).alias("embedding"),
    )
    b2 = base.filter(F.col("id") < 8).select(
        (F.col("id") + 7000).alias("id"), "embedding"
    )
    src = os.path.join(
        _replay_sources(
            spark,
            sf_dir,
            "idxmerge",
            [(f"feed/batch{i}.parquet", b) for i, b in enumerate((b1, b2))],
        ),
        "feed",
    )
    with _scratch("stream_idx_merge_") as tmp:
        tbl = os.path.join(tmp, "vec_tbl")
        VER.create_bucketed(base, tbl, ["id"], n_buckets=4)
        IDX.attach_ivfsq_index(spark, tbl, n_cells=4)
        stream = _file_stream(spark, "id bigint, embedding array<float>", src)
        sink = SI.merge_stream_sink(tbl)
        with _stream_shuffle_partitions(spark):
            SI.run_batch_like(
                stream.writeStream.foreachBatch(sink)
                .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            )
        out = (
            IDX.indexed_ivfsq_topk(spark, tbl, q, k=KNN_K, nprobe=4,
                                   candidates=600)
            .orderBy(F.desc("score"), "vec_id")
            .transform(pin, "stream_indexed_merge: out", "eager")
        )
    return out


def q_stream_hll_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sketch maintenance end-to-end: events replay as 3
    micro-batches through streaming.incremental_hll_sink — per epoch the
    batch's HLL registers max-merge into the sketch table (O(2^p) state,
    independent of history) — and the final table folds to the estimate.
    Mergeability means stream == one-shot batch sketch, and both engines
    run the identical md5-register formula, so even the APPROXIMATE value
    hash-matches the oracle's SQL replay."""
    from semantic_index_spark.streaming import ingest as SI

    ev = load_table(spark, sf_dir, "events")
    src = os.path.join(
        _replay_sources(
            spark,
            sf_dir,
            "hll",
            [
                (
                    f"src/b{b}.parquet",
                    ev.filter(F.col("event_id") % 3 == b).select("user_id"),
                )
                for b in range(3)
            ],
        ),
        "src",
    )
    with _scratch("hll_replay_") as tmp:
        sketch_path = os.path.join(tmp, "sketch")
        stream = _file_stream(spark, "user_id bigint", src)
        cb = SI.incremental_hll_sink(sketch_path, "user_id", p=HLL_P)
        with _stream_shuffle_partitions(spark):
            SI.run_batch_like(
                stream.writeStream.foreachBatch(cb)
                .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            )
        regs = spark.read.parquet(sketch_path)
        final = pin(SKT.hll_estimate(regs, p=HLL_P), "stream_hll_replay: final", "eager")
    return final



def q_index_compact_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """index.compact() is a pure plan-boundary operation: drive a mutation
    chain through the reference API surface (distributed upsert_df of
    docs 0-199, an UPDATE-policy re-upsert of the even docs with changed
    payloads, a remove_range of docs divisible by 10), compact the
    lineage, and surface the item set. The oracle replays the chain
    relationally — hash equality proves the localCheckpoint truncation
    changed the PLAN and nothing else (SemanticDatabase has no such op;
    long-lived driver-resident indexes need it so analysis time stops
    growing with mutation count)."""
    import json as _json

    from semantic_index_spark.index import SemanticIndex

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    item0 = F.concat(
        F.lit('{"id":'), F.col("doc_id").cast("string"),
        F.lit(',"v":'), F.col("n_chars").cast("string"), F.lit("}")
    ).alias("item")
    item1 = F.concat(
        F.lit('{"id":'), F.col("doc_id").cast("string"),
        F.lit(',"v":'), (F.col("n_chars") + 7).cast("string"), F.lit("}")
    ).alias("item")
    idx = SemanticIndex(spark)
    idx.upsert_df(d.select(item0), canonicalize=False)
    idx.upsert_df(d.filter(F.col("doc_id") % 2 == 0).select(item1), canonicalize=False)
    removals = [
        _json.loads(r["item"])
        for r in d.filter(F.col("doc_id") % 10 == 0).select(item1).collect()
    ]
    idx.remove_range(removals)
    idx.compact()
    return pin(idx.records.select("item"), "index_compact_demo: result", "eager")



def q_jsonl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine JSONL ingest end-to-end (sources/io.read_jsonl_quarantine):
    documents are serialized to JSONL with corruption deterministically
    injected by rule (doc_id % 13 == 0 lines get a truncated payload), read
    back PERMISSIVE with a corrupt-record column, and split good/quarantined.
    Output = per-language counts + char sums over the GOOD rows plus one
    __QUARANTINED__ row counting the bad lines; the oracle derives both
    directly from the rule — a dropped or silently-vanished corrupt line
    breaks the row."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from semantic_index_spark.sources import io as IO

    d = load_table(spark, sf_dir, "documents")
    line = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(F.lit('{"doc_id":'), F.col("doc_id").cast("string"), F.lit(',"lang":')),
    ).otherwise(
        F.concat(
            F.lit('{"doc_id":'), F.col("doc_id").cast("string"),
            F.lit(',"lang":"'), F.col("lang"),
            F.lit('","n_chars":'), F.col("n_chars").cast("string"), F.lit("}"),
        )
    ).alias("value")
    with _scratch("jsonl_q_") as tmp:
        path = os.path.join(tmp, "dump")
        d.select(line).write.text(path)
        schema = StructType(
            [
                StructField("doc_id", LongType()),
                StructField("lang", StringType()),
                StructField("n_chars", LongType()),
            ]
        )
        good, bad = IO.read_jsonl_quarantine(spark, path, schema)
        good_agg = good.groupBy("lang").agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        bad_agg = bad.agg(
            F.lit("__QUARANTINED__").alias("lang"),
            F.count("*").cast("bigint").alias("n_docs"),
            F.lit(0).cast("bigint").alias("total_chars"),
        )
        out = pin(good_agg.unionByName(bad_agg), "jsonl_quarantine: out", "eager")
    return out



def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution end-to-end (sources/io.read_parquet(merge_schema)):
    an old batch of documents is written WITHOUT the quality column, a new
    batch WITH it; the mergeSchema read reconciles the union schema (old
    files surface NULL quality) and aggregates per language — null-aware
    counts prove old rows really read as NULL rather than 0 or dropped.
    The oracle derives the same split from the doc_id rule."""
    from semantic_index_spark.sources import io as IO

    d = load_table(spark, sf_dir, "documents")
    old_batch = d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang", "n_chars")
    new_batch = d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "n_chars", (F.col("n_chars") % 100).cast("bigint").alias("quality")
    )
    with _scratch("schema_evo_") as tmp:
        path = os.path.join(tmp, "corpus")
        old_batch.write.parquet(path)
        new_batch.write.mode("append").parquet(path)
        merged = IO.read_parquet(spark, path, merge_schema=True)
        out = (
            merged.groupBy("lang")
            .agg(
                F.count("*").cast("bigint").alias("n_docs"),
                F.count("quality").cast("bigint").alias("n_with_quality"),
                F.coalesce(F.sum("quality"), F.lit(0)).cast("bigint").alias("quality_sum"),
            )
            .transform(pin, "schema_evolution: out", "eager")
        )
    return out


def q_stateful_totals_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState) in a
    rows-checkable form: replay the events table as 3 micro-batches
    through streaming.stateful_user_totals (per-user cumulative count +
    value total in explicit GroupState, update-mode emission into a
    memory sink), then keep each user's LAST emission — which must equal
    the batch groupBy. Values are pre-scaled to integral cents so the
    cross-batch float accumulation is exact and hash-comparable."""
    import uuid

    from semantic_index_spark.streaming import ingest as SI

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.round(F.col("value") * 100).alias("value")
    )
    src = os.path.join(
        _replay_sources(
            spark,
            sf_dir,
            "stateful",
            [
                (
                    f"src/batch{b}.parquet",
                    ev.filter(F.col("event_id") % 3 == b).select("user_id", "value"),
                )
                for b in range(3)
            ],
        ),
        "src",
    )
    name = "stateful_totals_" + uuid.uuid4().hex[:12]
    with _scratch("stateful_replay_") as tmp:
        stream = _file_stream(spark, "user_id bigint, value double", src)
        out = SI.stateful_user_totals(stream)
        with _stream_shuffle_partitions(spark):
            SI.run_batch_like(
                out.writeStream.outputMode("update")
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            )
        # n_events is strictly monotone per user across its emissions, so
        # max(struct) picks the final (count, total) pair atomically
        final = (
            spark.table(name)
            .groupBy("user_id")
            .agg(F.max(F.struct("n_events", "total_value")).alias("s"))
            .select(
                "user_id",
                F.col("s.n_events").alias("n_events"),
                F.col("s.total_value").alias("total_cents"),
            )
            .transform(pin, "stateful_totals_replay: final", "eager")
        )
    return final


def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # C4-style corpus-level segment dedup: one surviving copy per
    # duplicated 3-token segment, docs reassembled (dedup.segment_dedup).
    return D.segment_dedup(
        load_table(spark, sf_dir, "documents"), n=SEGDEDUP_N, min_count=2
    )


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hybrid-retrieval merge: RRF over a dot-product ranking and a cosine
    # ranking of the same query — rank-based fusion, no score calibration.
    from pyspark.sql import Window as _W

    emb = load_table(spark, sf_dir, "embeddings")
    q = list(emb.filter(F.col("vec_id") == 3).collect()[0]["embedding"])

    def _ranked(metric: str) -> DataFrame:
        base = S.topk(emb, q, k=RRF_TOPK, metric=metric)
        w = _W.orderBy(F.desc("score"), F.asc("vec_id"))
        return base.withColumn("rank", F.row_number().over(w))

    return S.rrf_fuse([_ranked("dot"), _ranked("cosine")], k_rrf=RRF_K)


def q_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # metadata-filtered vector search — the canonical vector-DB serving
    # query: restrict the corpus by an attribute predicate (here: English
    # documents, via the doc_id-aligned documents table), THEN exact
    # top-k. The semi-join prunes before any scoring; at 100 TB the
    # predicate belongs in the storage layout (partition column) so the
    # prune happens at planning time like ivf_topk_indexed.
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    q = list(emb.filter(F.col("vec_id") == 11).collect()[0]["embedding"])
    allowed = docs.filter(F.col("lang") == "en").select(
        F.col("doc_id").alias("vec_id")
    )
    cand = emb.join(allowed, "vec_id", "left_semi")
    return S.topk(cand, q, k=KNN_K)


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hybrid lexical + dense retrieval, the production search-stack shape:
    # BM25 arm over documents and exact-dot arm over the doc_id-aligned
    # embeddings, merged rank-based with RRF (no score calibration).
    from pyspark.sql import Window as _W

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = TA.bm25_topk(docs, BM25_TERMS, k=RRF_TOPK, k1=BM25_K1, b=BM25_B)
    lexr = lex.withColumn(
        "rank",
        F.row_number().over(_W.orderBy(F.desc("bm25"), F.asc("doc_id"))),
    ).select("doc_id", "rank")
    q = list(emb.filter(F.col("vec_id") == 5).collect()[0]["embedding"])
    den = S.topk(emb, q, k=RRF_TOPK)
    denr = den.withColumn(
        "rank",
        F.row_number().over(_W.orderBy(F.desc("score"), F.asc("vec_id"))),
    ).select(F.col("vec_id").alias("doc_id"), "rank")
    return S.rrf_fuse([lexr, denr], id_col="doc_id", k_rrf=RRF_K)


def q_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # in-flight data-quality counters via Spark's Observation API — the
    # metrics ride a REAL action with zero extra scans (pipeline.py);
    # NULLs derived deterministically so both engines see identical input.
    from semantic_index_spark.operators import pipeline as P

    ev = load_table(spark, sf_dir, "events").withColumn(
        "v", F.when(F.col("value") < 50, None).otherwise(F.col("value"))
    )
    return P.observed_profile(ev, "v")


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Zipf's-law slope + fit quality per language slice — the corpus-health
    # screen for templated/synthetic text (text_analysis.zipf_fit).
    return TA.zipf_fit(load_table(spark, sf_dir, "documents"), by="lang")


def q_stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark end-to-end: replay the events table as
    3 micro-batches PLUS a 4th batch that is a byte-identical copy of the
    first (cross-batch duplicates — the at-least-once-delivery shape this
    operator exists for), with a far-horizon watermark so no dedup state
    expires. The memory sink must hold every event exactly once; a broken
    dedup inflates the per-type counts and fails the hash."""
    import uuid

    from semantic_index_spark.streaming import ingest as SI

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", F.round(F.col("value") * 100).alias("value")
    )
    src = os.path.join(
        _replay_sources(
            spark,
            sf_dir,
            "dedup",
            [
                (f"src/batch{b}.parquet", ev.filter(F.col("event_id") % 3 == b))
                for b in range(3)
            ]
            # the duplicate delivery: batch 0 arrives again
            + [
                (
                    "src/batch3_redelivery.parquet",
                    ev.filter(F.col("event_id") % 3 == 0),
                )
            ],
        ),
        "src",
    )
    name = "stream_dedup_" + uuid.uuid4().hex[:12]
    with _scratch("stream_dedup_") as tmp:
        stream = _file_stream(
            spark, "event_id bigint, ts timestamp, event_type string, value double", src
        )
        deduped = SI.dedup_within_watermark(
            stream, ["event_id"], watermark="100000 hours"
        )
        with _stream_shuffle_partitions(spark):
            SI.run_batch_like(
                deduped.writeStream.outputMode("append")
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            )
        final = (
            spark.table(name)
            .groupBy("event_type")
            .agg(
                F.count("*").cast("bigint").alias("n_events"),
                F.round(F.sum("value"), 6).alias("total_cents"),
            )
            .transform(pin, "stream_dedup_replay: final", "eager")
        )
    return final


def q_stream_static_enrich_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment join end-to-end — the third join shape the
    streaming surface needs next to stream-stream (q_stream_join_replay)
    and stateful dedup: a micro-batched event stream broadcast-joined to a
    static dimension (customer → market segment) per batch, the standard
    "enrich the firehose with reference data" pipeline. Stream-static
    joins are stateless (no watermark, no join state — the dim is just
    re-broadcast per micro-batch), so the replayed result must equal the
    batch join exactly; the memory sink rows roll up to per-(segment,
    type) counts and exact value cents. Events without a matching
    customer keep a NULL segment (left join) — dropping them would hide
    referential gaps (see fk_integrity)."""
    import uuid

    from semantic_index_spark.streaming import ingest as SI

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("value_cents"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    src = os.path.join(
        _replay_sources(
            spark,
            sf_dir,
            "enrich",
            [
                (f"src/batch{b}.parquet", ev.filter(F.col("event_id") % 3 == b))
                for b in range(3)
            ],
        ),
        "src",
    )
    name = "stream_enrich_" + uuid.uuid4().hex[:12]
    with _scratch("stream_enrich_") as tmp:
        stream = _file_stream(
            spark,
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value_cents bigint",
            src,
        )
        enriched = stream.join(F.broadcast(cust), "user_id", "left")
        with _stream_shuffle_partitions(spark):
            SI.run_batch_like(
                enriched.writeStream.outputMode("append")
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            )
        final = (
            spark.table(name)
            .groupBy("c_mktsegment", "event_type")
            .agg(
                F.count("*").cast("bigint").alias("n_events"),
                F.sum("value_cents").cast("bigint").alias("sum_value_cents"),
            )
            .transform(pin, "stream_static_enrich_replay: final", "eager")
        )
    return final


def q_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    # count-based multinomial NB over the lang labels, reported as a
    # confusion matrix — the train→broadcast→score classifier pipeline
    # with exact micro-nat integer scoring (see text_analysis docstring).
    d = load_table(spark, sf_dir, "documents")
    return TA.naive_bayes_language(d)


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-source percentile of doc length: the cross-source calibration
    # step before one global mixing threshold; exact-integer cume_dist.
    from semantic_index_spark.operators import pipeline as P

    d = load_table(spark, sf_dir, "documents")
    return P.quantile_normalize(d, by="source", value_col="n_chars")


def q_trimmed_mean_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the literal GROUPED_AGG pandas UDAF API (Arrow-batched scalar
    # aggregate), completing the UDF surface next to the scalar pandas_udf
    # (embedder), grouped-map applyInPandas (label_centroids), and UDTF
    # (tokenize): interquartile (25%-trimmed) mean of order value per
    # market segment — a robust statistic Spark has no built-in for.
    # The UDAF returns EXACT integers (trimmed sum of cents + kept count;
    # numpy int64 sums, no floats), so the hash never rides an Arrow
    # float boundary; the positional trim keeps the same multiset under
    # any tie order. Pandas state is one group's values — bounded by the
    # largest group, the standard GROUPED_AGG contract.
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def trimmed_sum_cents(v: pd.Series) -> int:
        import numpy as np

        a = np.sort(v.to_numpy())
        cut = len(a) // 4
        return int(a[cut : len(a) - cut].sum())

    @pandas_udf("long")
    def trimmed_n(v: pd.Series) -> int:
        n = len(v)
        return n - 2 * (n // 4)

    # GROUPED_AGG UDFs cannot share an agg() with built-in aggregates
    # (INVALID_PANDAS_UDF_PLACEMENT), so the plain count is a UDAF too
    @pandas_udf("long")
    def n_count(v: pd.Series) -> int:
        return len(v)

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).select(
        "c_mktsegment",
        F.round(F.lit(100) * F.col("o_totalprice")).cast("bigint").alias("_cents"),
    )
    return (
        j.groupBy("c_mktsegment")
        .agg(
            n_count("_cents").alias("n_orders"),
            trimmed_sum_cents("_cents").alias("trimmed_sum_cents"),
            trimmed_n("_cents").alias("trimmed_n"),
        )
        .select(
            "c_mktsegment",
            "n_orders",
            "trimmed_sum_cents",
            "trimmed_n",
            F.round(
                F.col("trimmed_sum_cents") / F.col("trimmed_n") / F.lit(100.0), 2
            ).alias("trimmed_mean"),
        )
    )


def q_ivf_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    # clustering-quality eval: simplified (centroid-distance) silhouette
    # of the IVF cell assignment — a = euclidean distance to the own
    # centroid, b = distance to the nearest OTHER centroid, s = (b-a)/
    # max(a,b), reported per cell. O(n·k) JVM fold expressions (never the
    # O(n²) exact silhouette — at 100 TB that's the only viable form);
    # per-point s is fixed-pointed to micro units so the per-cell sums
    # are exact integers. Tie-safe: if the own distance equals the global
    # min shared with another centroid, b picks the same value and s = 0.
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = S.ivf_assign(emb, CENTROIDS)

    def _dist(c: list[float]):
        return F.sqrt(
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    F.array(*[F.lit(float(v)) for v in c]),
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        )

    ds = F.array(*[_dist(c) for c in CENTROIDS])
    base = assigned.select("vec_id", "_cell", ds.alias("_ds"))
    a = F.element_at("_ds", F.col("_cell") + 1)
    srt = F.array_sort("_ds")
    b = F.when(a == srt[0], srt[1]).otherwise(srt[0])
    s_micro = (
        F.floor(F.lit(1e6) * (b - a) / F.greatest(a, b)).cast("bigint")
    )
    return (
        base.select(F.col("_cell").alias("cell"), s_micro.alias("_sm"))
        .groupBy("cell")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("_sm").cast("bigint").alias("sum_s_micro"),
            F.round(F.sum("_sm") / F.count("*") / F.lit(1e6), 6).alias(
                "mean_silhouette"
            ),
        )
    )


def q_throttle_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cooldown alert-throttling per user: the greedy kept-chain fold plain
    # windows can't express (see timeseries.throttle_dedup).
    ev = load_table(spark, sf_dir, "events")
    return TS.throttle_dedup(ev, key_col="user_id", cooldown_s=1800)


def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Holt double exponential smoothing of daily volume per event type —
    # level/trend/7-day forecast in cents (see timeseries docstring).
    ev = load_table(spark, sf_dir, "events")
    return TS.holt_winters_level_trend(ev, by="event_type")


def q_stream_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING session windows end-to-end — the streaming twin of the
    batch `session_window_agg` row (same native `F.session_window`
    operator, same second-quantized event time): the events table replays
    as 3 micro-batches that are NOT time-ordered (split by event_id, so
    later batches deliver earlier events — the out-of-order arrival that
    session MERGING exists for), aggregated in COMPLETE output mode. No
    watermark on purpose: complete mode keeps all session state, so late
    arrivals merge instead of dropping, and the final memory-sink table
    must equal the batch sessionization exactly. (Append mode + watermark
    is the production eviction story; it can never emit the trailing
    open sessions, which would break exact batch parity — the bounded-
    state variant is exercised by events_tumbling/sliding_windows.)"""
    import uuid

    from semantic_index_spark.streaming import ingest as SI

    gap_s = 1800
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.timestamp_seconds(F.unix_timestamp("ts")).alias("ts"),
        "user_id",
        "value",
    )
    src = os.path.join(
        _replay_sources(
            spark,
            sf_dir,
            "session",
            [
                (f"src/batch{b}.parquet", ev.filter(F.col("event_id") % 3 == b))
                for b in range(3)
            ],
        ),
        "src",
    )
    name = "stream_session_" + uuid.uuid4().hex[:12]
    with _scratch("stream_session_") as tmp:
        stream = _file_stream(
            spark, "event_id bigint, ts timestamp, user_id bigint, value double", src
        )
        agg = stream.groupBy(
            F.session_window("ts", f"{gap_s} seconds").alias("w"),
            "user_id",
        ).agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        with _stream_shuffle_partitions(spark):
            SI.run_batch_like(
                agg.writeStream.outputMode("complete")
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            )
        final = (
            spark.table(name)
            .select(
                "user_id",
                F.unix_timestamp(F.col("w.start")).alias("session_start"),
                F.unix_timestamp(F.col("w.end")).alias("session_end"),
                "n_events",
                "sum_value",
            )
            .transform(pin, "stream_session_replay: final", "eager")
        )
    return final


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round-trip: write lineitem to ORC partitioned by
    return flag, read it back, and aggregate — the second columnar format
    next to parquet (native Spark ORC, predicate pushdown and partition
    pruning included; the read path prunes to the partition directories
    the aggregate touches). The oracle computes the same aggregate from
    the parquet original, so any fidelity loss in the ORC round-trip
    (type mapping, nulls, partition-column re-derivation) breaks the
    hash. Money sums in exact cents — the round-trip must preserve the
    doubles BIT-exactly for these to match."""
    li = load_table(spark, sf_dir, "lineitem")
    with _scratch("orc_rt_") as tmp:
        dest = os.path.join(tmp, "lineitem_orc")
        li.write.partitionBy("l_returnflag").orc(dest)
        back = spark.read.orc(dest)
        final = (
            back.groupBy("l_returnflag")
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum(
                    F.round(F.lit(100) * F.col("l_extendedprice")).cast("bigint")
                ).alias("price_cents"),
                F.sum("l_quantity").cast("bigint").alias("total_qty"),
                F.count_distinct("l_partkey").cast("bigint").alias("n_parts"),
            )
            .transform(pin, "orc_roundtrip: final", "eager")
        )
    return final


def q_stream_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream time-bounded inner join end-to-end (the purchase ←
    view attribution join): purchases and views replay as separate file
    streams, joined per user where the view happened within 1 hour before
    the purchase; far-horizon watermark → no state eviction, so the
    emitted set equals the batch join exactly."""
    import uuid

    from semantic_index_spark.streaming import ingest as SI

    # deterministic user slice: the join buffers BOTH sides in state until
    # the (far-horizon) watermark would evict — verification value is
    # identical on a slice, state cost is not
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 3 == 0)
        .select("event_id", "ts", "user_id", "event_type")
    )
    root = _replay_sources(
        spark,
        sf_dir,
        "ssjoin",
        [
            (
                f"{side}/batch{b}.parquet",
                ev.filter(
                    (F.col("event_type") == etype) & (F.col("event_id") % 2 == b)
                ).select("event_id", "ts", "user_id"),
            )
            for side, etype in (("purchases", "purchase"), ("views", "view"))
            for b in range(2)
        ],
    )
    lsrc = os.path.join(root, "purchases")
    rsrc = os.path.join(root, "views")
    name = "stream_join_" + uuid.uuid4().hex[:12]
    with _scratch("stream_join_") as tmp:
        schema = "event_id bigint, ts timestamp, user_id bigint"
        left = _file_stream(spark, schema, lsrc)
        right = _file_stream(spark, schema, rsrc)
        joined = SI.stream_stream_join(
            left, right, on="user_id", within="1 hour", watermark="100000 hours"
        ).select(
            F.col("l.user_id").alias("user_id"),
            F.col("l.event_id").alias("purchase_id"),
            F.col("r.event_id").alias("view_id"),
        )
        with _stream_shuffle_partitions(spark):
            SI.run_batch_like(
                joined.writeStream.outputMode("append")
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            )
        final = pin(spark.table(name), "stream_join_replay: final", "eager")
    return final


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic weight-proportional sample without replacement
    # (Efraimidis–Spirakis keys off a reproducible md5 uniform; skew.py).
    d = load_table(spark, sf_dir, "documents")
    return SK.weighted_sample(d, "doc_id", "n_chars", WS_N)




LP_ITERS = 2  # fixed so the oracle unrolls the label recurrence as CTEs


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the symmetrized customer-part co-purchase
    graph: 2 rounds of deterministic synchronous label propagation
    (operators/graph.py) — most-frequent neighbor label, ties to the
    smallest. Completes the graph family (PageRank, triangles, k-hop,
    connected components) with the community primitive; the oracle
    unrolls both rounds as count + argmax-window CTEs."""
    from semantic_index_spark.operators import graph as G

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 4 == 0).select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
    )
    edges = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return G.label_propagation(edges, iters=LP_ITERS)


def q_ols_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature OLS (price ~ quantity + discount%) via normal equations
    solved with Cramer's rule entirely in JVM expressions — ONE
    map-side-combined aggregate pass, nothing driver-side
    (operators/stats.py). Inputs fixed-point to integers so the moment
    sums are exact and the identical expression tree yields bit-identical
    coefficients on both engines."""
    from semantic_index_spark.operators import stats as ST

    li = load_table(spark, sf_dir, "lineitem").select(
        F.floor("l_extendedprice").cast("bigint").alias("price_usd"),
        F.floor("l_quantity").cast("bigint").alias("qty"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("bigint").alias("disc_pct"),
    )
    return ST.ols2_closed_form(li, "price_usd", "qty", "disc_pct")


def q_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped multi-touch attribution: touches before a session's first
    purchase share its credit 40/20/40 in exact integer micros
    (operators/timeseries.py) — the middle ground between the
    first-touch and Markov-transition readouts already in the registry."""
    ev = load_table(spark, sf_dir, "events")
    return TS.position_attribution(ev, conversion="purchase", gap_s=1800)



SP_ROUNDS = 2  # fixed Bellman-Ford rounds so the oracle unrolls min-plus


def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact audience-overlap matrix over event types via positional
    bitmap aggregation (operators/mining.py): corpus collapses to
    per-64-bit-word bitmaps in one partial-agg shuffle, intersections are
    bitmap-sized bit_count folds — never a corpus self-join. The oracle
    computes the same matrix the independent way (DISTINCT pairs
    equi-join), so a bitmap bit-placement bug cannot hide."""
    from semantic_index_spark.operators import mining as MN

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return MN.audience_overlap(ev, "event_type", "user_id")


def q_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source weighted shortest paths (2 Bellman-Ford rounds) over
    the symmetrized co-purchase graph with quantity edge weights
    (operators/graph.py) — the weighted counterpart of the k-hop BFS row;
    min-plus over exact integer weights, unrolled in the oracle CTEs."""
    from semantic_index_spark.operators import graph as G

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    raw = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
        F.floor("l_quantity").cast("bigint").alias("w"),
    )
    edges = raw.union(
        raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    seeds = spark.createDataFrame([("c1",), ("c2",)], "node string")
    return G.shortest_paths(edges, seeds, rounds=SP_ROUNDS)



def q_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between two versions of the bucketed store
    (sources/versioned.py diff_bucketed): build the same target + merge
    as merge_versioned, then ask "what changed between v0 and v1?" —
    reading ONLY the buckets whose manifest owner moved (a 1 % merge
    diffs ~1 % of the table at any size). The oracle derives the same
    change set relationally from the parquet original: updates = matched
    upserts with a differing payload, deletes = matched tombstones,
    inserts = unmatched upserts."""
    from semantic_index_spark.sources import versioned as VER

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    target = d.filter(F.col("doc_id") % 3 != 0)
    src = d.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        (F.col("n_chars") + 1000).alias("n_chars"),
        F.when(F.col("doc_id") % 10 == 0, F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
    )
    with _scratch("cdf_ver_") as tmp:
        tbl = os.path.join(tmp, "docs_tbl")
        VER.create_bucketed(target, tbl, ["doc_id"], n_buckets=16)
        VER.merge_into_bucketed(spark, tbl, src, op_col="op")
        out = pin(VER.diff_bucketed(spark, tbl, 0, 1), "table_changes: out", "eager")
    return out



def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community quality readout: Newman modularity of the 2-round
    label-propagation assignment over the co-purchase graph
    (operators/graph.py modularity) — per-community intra-edge and
    degree-sum exact counts with the Q contribution; the oracle re-runs
    the full LP recurrence and the modularity arithmetic in CTEs."""
    from semantic_index_spark.operators import graph as G

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 4 == 0).select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
    )
    # materialize the distinct symmetric edge list ONCE: LP's rounds, the
    # modularity joins, and the 2m count all read this pin instead of
    # re-running the co-purchase join + distinct three times
    edges = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .transform(pin, "modularity: edges")
    )
    labels = G.label_propagation(edges, iters=LP_ITERS, assume_distinct=True)
    return G.modularity(edges, labels)



def q_range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TWO-HUGE-SIDES range join (timeseries.bucketed_range_join):
    order totalprices as points against a corpus-sized interval table
    (one ±2500 band around each customer's account balance ×40) — too
    many intervals to broadcast, so both sides overlay a fixed grid and
    hash-equi-join on the bucket with the exact predicate re-checked.
    The oracle is the literal theta join; counts are aggregated per
    market segment so the result is segment-bounded."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        (F.col("c_acctbal") * 40 - 250).alias("lo"),
        (F.col("c_acctbal") * 40 + 250).alias("hi"),
    )
    # band ±250 over 500-wide buckets: candidate pairs per point stay
    # ~|intervals|·2/|buckets| — the Σ|bucket|² lever that keeps the
    # two-huge-sides join density-bounded at any scale
    joined = TS.bucketed_range_join(
        orders, cust, "o_totalprice", "lo", "hi", bucket_width=500.0
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.count_distinct("o_orderkey").cast("bigint").alias("n_orders"),
        F.count_distinct("c_custkey").cast("bigint").alias("n_customers"),
    )



NJ_MAXDF = 5  # df cutoff; synthetic shingles top out at df~7, so 5 genuinely bites


def q_ngram_jaccard_maxdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-Jaccard verifier's 100 TB lever end-to-end: shingles in
    more than NJ_MAXDF documents are dropped from BOTH the sizes and the
    intersection (dedup.ngram_jaccard_pairs(max_df=...)), bounding the
    self-join's Σdf² pair count while keeping a consistent Jaccard over
    the informative-shingle space. The oracle replays the df filter and
    the inclusion-exclusion identically."""
    return D.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        shingle_n=SHINGLE_N,
        threshold=JACCARD_THRESHOLD,
        max_df=NJ_MAXDF,
    )


def q_merge_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style MERGE INTO on the bucketed versioned store, end-to-end
    (``sources/versioned.py``): target = documents with doc_id % 3 != 0
    committed as a 16-bucket table; the source batch upserts every even
    doc (n_chars + 1000) and tombstones docs divisible by 10. The merge
    rewrites ONLY the buckets the batch touches (manifest-level
    copy-on-write — the 100 TB property), the final state reads back via
    the manifest, and each row is tagged kept/updated/inserted by
    membership joins. The oracle replays the MERGE relationally
    (NOT EXISTS anti-join + union) from the parquet original, so any
    divergence in merge semantics, bucket routing, or manifest
    bookkeeping breaks the row count or the hash."""
    from semantic_index_spark.sources import versioned as VER

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    target = d.filter(F.col("doc_id") % 3 != 0)
    src = d.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        (F.col("n_chars") + 1000).alias("n_chars"),
        F.when(F.col("doc_id") % 10 == 0, F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
    )
    with _scratch("merge_ver_") as tmp:
        tbl = os.path.join(tmp, "docs_tbl")
        VER.create_bucketed(target, tbl, ["doc_id"], n_buckets=16)
        VER.merge_into_bucketed(spark, tbl, src, op_col="op")
        final = VER.read_bucketed(spark, tbl)
        out = (
            final.join(
                target.select("doc_id").withColumn("_t", F.lit(1)), "doc_id", "left"
            )
            .join(
                src.filter(F.col("op") == "upsert")
                .select("doc_id")
                .withColumn("_s", F.lit(1)),
                "doc_id",
                "left",
            )
            .select(
                "doc_id",
                "n_chars",
                F.when(F.col("_t").isNull(), F.lit("inserted"))
                .when(F.col("_s").isNotNull(), F.lit("updated"))
                .otherwise(F.lit("kept"))
                .alias("action"),
            )
            .transform(pin, "merge_versioned: out", "eager")
        )
    return out


def q_merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the bucketed versioned store end-to-end
    (``sources/versioned.py merge_into_bucketed(schema_evolution=True)``,
    r10): target = documents with doc_id % 3 != 0 as (doc_id, n_chars)
    in a 16-bucket table; the source batch upserts every even doc with
    n_chars + 1000 AND an ADDED ``lang`` column (tombstoning docs
    divisible by 10). The merge widens the manifest schema; buckets the
    batch does not touch are NOT rewritten — their old-schema files
    null-fill ``lang`` at read time — and time travel still reads v0
    under the original two-column schema (``old_n_chars`` is joined from
    that narrower read, proving it). The oracle derives the exact
    NULL-backfilled merged state relationally, so a wrong backfill, a
    dropped untouched bucket, or a leaked column into v0 breaks the hash."""
    from semantic_index_spark.sources import versioned as VER

    d = load_table(spark, sf_dir, "documents")
    target = d.filter(F.col("doc_id") % 3 != 0).select("doc_id", "n_chars")
    src = d.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        (F.col("n_chars") + 1000).alias("n_chars"),
        "lang",
        F.when(F.col("doc_id") % 10 == 0, F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
    )
    with _scratch("merge_evo_") as tmp:
        tbl = os.path.join(tmp, "docs_tbl")
        VER.create_bucketed(target, tbl, ["doc_id"], n_buckets=16)
        VER.merge_into_bucketed(spark, tbl, src, op_col="op", schema_evolution=True)
        final = VER.read_bucketed(spark, tbl)  # widened: doc_id, n_chars, lang
        v0 = VER.read_bucketed(spark, tbl, version=0)  # narrow: doc_id, n_chars
        assert v0.columns == ["doc_id", "n_chars"], v0.columns
        out = (
            final.join(
                v0.select("doc_id", F.col("n_chars").alias("old_n_chars")),
                "doc_id",
                "left",
            )
            .join(
                src.filter(F.col("op") == "upsert")
                .select("doc_id")
                .withColumn("_s", F.lit(1)),
                "doc_id",
                "left",
            )
            .select(
                "doc_id",
                "n_chars",
                "lang",
                "old_n_chars",
                F.when(F.col("old_n_chars").isNull(), F.lit("inserted"))
                .when(F.col("_s").isNotNull(), F.lit("updated"))
                .otherwise(F.lit("kept"))
                .alias("action"),
            )
            .orderBy("doc_id")
            .transform(pin, "merge_schema_evolution: out", "eager")
        )
    return out


def q_sql_front_door(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The versioned store through pure SQL (``sources/versioned_batch.py``,
    r11): customers ≤ 300 seed an 8-bucket table; a MERGE updates every
    7th key (+55 cents) and inserts id+9000 copies of the first 10; a
    deletion-vector DELETE removes every 11th base key; RENAME gives the
    payload its final name — then the table is bound to SQL views with
    ``sql_view`` (latest + ``VERSION AS OF 0``) and the OUTPUT is computed
    by ONE ``spark.sql`` text query full-outer-joining the two snapshots:
    per key, current balance (post-rename name, NULL when DV-deleted),
    the v0 balance (pre-rename name, NULL when inserted later), and the
    change status. Exercises the whole batch-DataSource read path —
    manifest-schema reads, column-mapping aliasing, executor-side DV
    anti-joins, version pinning — from SQL text alone; the relational
    oracle recomputes both snapshots. SQL point-lookup bucket pruning
    (pushFilters + the Spark-bit-exact python xxhash64) is pytest-locked
    (``test_versioned_table_sql_front_door``)."""
    from semantic_index_spark.sources import versioned as VER
    from semantic_index_spark.sources import versioned_batch as VB

    c = load_table(spark, sf_dir, "customer")
    base = c.filter(F.col("c_custkey") <= 300).select(
        F.col("c_custkey").alias("id"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    with _scratch("sql_front_door_") as tmp:
        try:
            t = os.path.join(tmp, "tbl")
            VER.create_bucketed(base, t, ["id"], n_buckets=8)
            src = base.filter(F.col("id") % 7 == 0).select(
                "id", (F.col("cents") + 55).alias("cents")
            ).unionByName(
                base.filter(F.col("id") <= 10).select(
                    (F.col("id") + 9000).alias("id"), "cents"
                )
            )
            VER.merge_into_bucketed(spark, t, src)
            VER.delete_bucketed(
                spark, t, base.filter(F.col("id") % 11 == 0).select("id")
            )
            VER.rename_column(t, "cents", "balance_cents")
            VB.sql_view(spark, "sqlfd_reg_cur", t)
            VB.sql_view(spark, "sqlfd_reg_v0", t, version=0)
            out = spark.sql(
                """
                SELECT COALESCE(c.id, o.id) AS id,
                       c.balance_cents,
                       o.cents AS old_cents,
                       CASE WHEN c.id IS NULL THEN 'deleted'
                            WHEN o.id IS NULL THEN 'inserted'
                            WHEN c.balance_cents <> o.cents THEN 'changed'
                            ELSE 'same' END AS status
                FROM sqlfd_reg_cur c FULL OUTER JOIN sqlfd_reg_v0 o ON c.id = o.id
                ORDER BY id
                """
            ).transform(pin, "sql_front_door: out", "eager")
        finally:
            spark.catalog.dropTempView("sqlfd_reg_cur")
            spark.catalog.dropTempView("sqlfd_reg_v0")
    return out


def q_indexed_table_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactionally co-committed ANN index (``sources/indexed.py``,
    r11 — the index ∘ table atomicity design): the HNSW index is a TABLE
    ARTIFACT of the bucketed versioned store — shard b covers exactly
    bucket b (same ``pmod(xxhash64(id), n_buckets)``), a MERGE rebuilds
    the affected shards inside its OWN staged commit (one rename + one
    pointer swap covers data and index, crash-atomicity pytest-
    simulated), and serves resolve shards through the manifest. The row
    drives the full lifecycle: create (embeddings with vec_id < 400) →
    attach → MERGE (negate every 10th embedding, insert id+10000 copies
    of the first 20) → DV-delete every 17th base id → serve the exact
    exhaustive top-10 at the CURRENT version (merged content minus DV'd
    keys) AND as-of the attach version (pre-merge content, no DVs) from
    that version's own shards. The brute-force oracle recomputes both
    states relationally — a stale shard, a leaked insert into the as-of
    serve, or a DV that failed to tombstone breaks the hash."""
    from semantic_index_spark.sources import indexed as IDX
    from semantic_index_spark.sources import versioned as VER

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 400)
    base = emb.select(F.col("vec_id").alias("id"), "embedding")
    q = emb.filter(F.col("vec_id") == 3).collect()[0]["embedding"]
    with _scratch("indexed_ann_") as tmp:
        t = os.path.join(tmp, "tbl")
        VER.create_bucketed(base, t, ["id"], n_buckets=8)
        v_attach = IDX.attach_hnsw_index(spark, t, m=8, ef_construction=32)
        src = (
            base.filter(F.col("id") % 10 == 0)
            .select("id", F.transform("embedding", lambda x: -x).alias("embedding"))
            .unionByName(
                base.filter(F.col("id") < 20).select(
                    (F.col("id") + 10000).alias("id"), "embedding"
                )
            )
        )
        VER.merge_into_bucketed(spark, t, src)
        VER.delete_bucketed(
            spark, t, base.filter(F.col("id") % 17 == 0).select("id")
        )
        post = IDX.indexed_hnsw_topk(spark, t, q, k=KNN_K, ef=None).withColumn(
            "stage", F.lit("post_merge")
        )
        asof = IDX.indexed_hnsw_topk(
            spark, t, q, k=KNN_K, ef=None, version=v_attach
        ).withColumn("stage", F.lit("as_of_attach"))
        out = (
            post.unionByName(asof)
            .orderBy("stage", F.desc("score"), "vec_id")
            .transform(pin, "indexed_table_ann: out", "eager")
        )
    return out


def q_merge_type_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TYPE-widening schema evolution on the bucketed versioned store
    (``sources/versioned.py merge_into_bucketed``, r11 — Delta
    typeWidening semantics): target = documents with doc_id % 3 != 0 as
    (doc_id, n_chars INT, score FLOAT) in a 16-bucket table; the source
    upserts every even doc carrying ``n_chars`` as BIGINT (values pushed
    past int32 by +3e9 — the widening is load-bearing, not cosmetic) and
    ``score`` as DOUBLE. The merge promotes the manifest field types;
    buckets the batch does not touch are NOT rewritten — the parquet
    reader upcasts their narrow int32/float32 files under the widened
    manifest read schema — and time travel still reads v0 under the
    original narrow types (asserted in-query; ``old_n_chars`` joins from
    that read). Score values are exact quarters, representable in both
    float32 and float64, so the float→double promotion is bit-exact on
    both engines. The oracle derives the same merged state relationally;
    a wrong upcast, a dropped untouched bucket, or a leaked wide value
    into v0 breaks the hash."""
    from semantic_index_spark.sources import versioned as VER

    d = load_table(spark, sf_dir, "documents")
    target = d.filter(F.col("doc_id") % 3 != 0).select(
        "doc_id",
        F.col("n_chars").cast("int").alias("n_chars"),
        (F.col("n_chars") / F.lit(4)).cast("float").alias("score"),
    )
    src = d.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        (F.col("n_chars") + F.lit(3_000_000_000)).alias("n_chars"),
        ((F.col("n_chars") / F.lit(4)) + F.lit(1000000.25)).alias("score"),
    )
    with _scratch("merge_widen_") as tmp:
        tbl = os.path.join(tmp, "docs_tbl")
        VER.create_bucketed(target, tbl, ["doc_id"], n_buckets=16)
        VER.merge_into_bucketed(spark, tbl, src, schema_evolution=True)
        final = VER.read_bucketed(spark, tbl)
        assert dict(final.dtypes)["n_chars"] == "bigint", final.dtypes
        assert dict(final.dtypes)["score"] == "double", final.dtypes
        v0 = VER.read_bucketed(spark, tbl, version=0)  # narrow types
        assert dict(v0.dtypes)["n_chars"] == "int", v0.dtypes
        assert dict(v0.dtypes)["score"] == "float", v0.dtypes
        out = (
            final.join(
                v0.select("doc_id", F.col("n_chars").alias("old_n_chars")),
                "doc_id",
                "left",
            )
            .select(
                "doc_id",
                "n_chars",
                "score",
                "old_n_chars",
                F.when(F.col("old_n_chars").isNull(), F.lit("inserted"))
                .when(F.col("n_chars") > 2_000_000_000, F.lit("updated"))
                .otherwise(F.lit("kept"))
                .alias("action"),
            )
            .orderBy("doc_id")
            .transform(pin, "merge_type_widening: out", "eager")
        )
    return out


def q_restore_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE + CLONE on the versioned store end-to-end
    (``sources/versioned.py restore_bucketed``/``clone_table``, r10):
    customers ≤ 200 seed a 16-bucket table (v0); a MERGE updates every
    7th key and inserts 10 synthetic keys (v1); a deletion-vector DELETE
    removes every 13th key (v2); ``restore_bucketed`` rolls the table
    back to v0 as a METADATA-ONLY v3 (no bucket data under the restore's
    v-dir — pytest locks that); the restored table is then CLONEd
    (hardlink consolidation) and the output is the CLONE's full content
    joined with the rollback's change feed ``diff_bucketed(v2, v3)`` on
    the SOURCE table. The oracle recomputes both relationally: content =
    the v0 base (a wrong restore leaks merged/deleted rows), action =
    'inserted' for DV'd keys (they come back), 'updated' for merged keys
    (payload reverts), NULL for untouched — a wrong diff or a clone that
    read stale buckets breaks the hash."""
    from semantic_index_spark.sources import versioned as VER

    c = load_table(spark, sf_dir, "customer")
    base = c.filter(F.col("c_custkey") <= 200).select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    with _scratch("restore_clone_") as tmp:
        tbl = os.path.join(tmp, "cust_tbl")
        VER.create_bucketed(base, tbl, ["id"], n_buckets=16)  # v0
        upd = base.filter(F.col("id") % 7 == 0).select(
            "id",
            F.concat(F.col("name"), F.lit("_x")).alias("name"),
            (F.col("cents") + 11).alias("cents"),
        )
        ins = spark.range(10001, 10011).select(
            F.col("id"),
            F.concat(F.lit("new_"), F.col("id")).alias("name"),
            F.col("id").alias("cents"),
        )
        VER.merge_into_bucketed(spark, tbl, upd.unionByName(ins))  # v1
        VER.delete_bucketed(
            spark, tbl, base.filter(F.col("id") % 13 == 0).select("id")
        )  # v2
        v3 = VER.restore_bucketed(tbl, 0)
        assert v3 == 3, v3
        clone = os.path.join(tmp, "cust_clone")
        VER.clone_table(tbl, clone)
        feed = VER.diff_bucketed(spark, tbl, 2, 3).select("id", "_action")
        out = (
            VER.read_bucketed(spark, clone)
            .join(feed, "id", "left")
            .select("id", "name", "cents", F.col("_action").alias("action"))
            .orderBy("id")
            .transform(pin, "restore_clone: out", "eager")
        )
    return out


def q_rename_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RENAME COLUMN via column mapping end-to-end
    (``sources/versioned.py rename_column``, r10): customers seed a
    bucketed table; the payload column renames (metadata-only — physical
    file names are frozen at column birth); a MERGE under the NEW logical
    name updates every 5th key; a DV delete removes every 11th. The final
    read serves PRE-rename files, POST-rename files, and DV anti-joins
    all under the new logical name — the oracle recomputes the state
    relationally, so a broken physical→logical alias (NULLs), a lost
    mapping on any commit path, or a mis-keyed DV breaks the hash."""
    from semantic_index_spark.sources import versioned as VER

    c = load_table(spark, sf_dir, "customer")
    base = c.filter(F.col("c_custkey") <= 150).select(
        F.col("c_custkey").alias("id"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        F.col("c_name").alias("name"),
    )
    with _scratch("rename_col_") as tmp:
        tbl = os.path.join(tmp, "cust_tbl")
        VER.create_bucketed(base, tbl, ["id"], n_buckets=8)  # v0
        VER.rename_column(tbl, "cents", "pennies")  # v1: metadata-only
        upd = base.filter(F.col("id") % 5 == 0).select(
            "id", (F.col("cents") + 3).alias("pennies"), "name"
        )
        VER.merge_into_bucketed(spark, tbl, upd)  # v2: under the NEW name
        VER.delete_bucketed(
            spark, tbl, base.filter(F.col("id") % 11 == 0).select("id")
        )  # v3: DV keys anti-join pre- and post-rename files alike
        out = (
            VER.read_bucketed(spark, tbl)
            .select("id", "pennies", "name")
            .orderBy("id")
            .transform(pin, "rename_column: out", "eager")
        )
    return out


def q_table_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraints + generated columns end-to-end
    (``sources/versioned.py``, r10): the table is created with a
    constraint AND a generated column; a merge OMITS the generated column
    (it must be computed) and a second merge PROVIDES the correct value
    (it must pass validation) — then the constraint catches a violating
    batch, whose commit must publish NOTHING (the output would carry the
    poisoned row if it did). The oracle recomputes the final state with
    the generated expression inline, so a wrong compute, a silently
    dropped constraint (the DV-shedding regression class), or a leaked
    rejected batch breaks the hash."""
    from semantic_index_spark.sources import versioned as VER

    c = load_table(spark, sf_dir, "customer")
    base = c.filter(F.col("c_custkey") <= 120).select(
        F.col("c_custkey").alias("id"),
        F.abs(F.round(F.col("c_acctbal") * 100).cast("long")).alias("cents"),
    )
    with _scratch("tbl_meta_") as tmp:
        tbl = os.path.join(tmp, "t")
        VER.create_bucketed(
            base, tbl, ["id"], n_buckets=8,
            constraints={"nonneg": "cents >= 0"},
            generated={"dollars": "cents div 100"},
        )
        # omitted generated column → computed
        VER.merge_into_bucketed(
            spark, tbl,
            base.filter(F.col("id") % 4 == 0).select(
                "id", (F.col("cents") + 250).alias("cents")
            ),
        )
        # provided generated column (correct) → validated and accepted
        VER.merge_into_bucketed(
            spark, tbl,
            base.filter(F.col("id") % 9 == 0).select(
                "id",
                (F.col("cents") + 100).alias("cents"),
                F.expr("(cents + 100) div 100").alias("dollars"),
            ),
        )
        # violating batch: rejected, NOTHING published
        try:
            VER.merge_into_bucketed(
                spark, tbl,
                spark.createDataFrame([(1, -5)], "id long, cents long"),
            )
            raise AssertionError("constraint did not fire")
        except VER.ConstraintViolationError:
            pass
        out = (
            VER.read_bucketed(spark, tbl)
            .orderBy("id")
            .transform(pin, "table_metadata: out", "eager")
        )
    return out


def q_drop_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only DROP COLUMN end-to-end (``sources/versioned.py
    drop_column``, r10): a three-column table merges, drops a payload
    column (zero bucket rewrites — old files keep the bytes, reads
    project them away), merges again narrow, and the output joins the
    narrow current state with the dropped column read via TIME TRAVEL to
    the pre-drop version — proving the drop is metadata-only (the data
    still exists at v1) AND the current schema is narrow. The oracle
    recomputes both relationally."""
    from semantic_index_spark.sources import versioned as VER

    c = load_table(spark, sf_dir, "customer")
    base = c.filter(F.col("c_custkey") <= 100).select(
        F.col("c_custkey").alias("id"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        F.col("c_name").alias("name"),
    )
    with _scratch("drop_col_") as tmp:
        tbl = os.path.join(tmp, "t")
        VER.create_bucketed(base, tbl, ["id"], n_buckets=8)  # v0
        VER.merge_into_bucketed(
            spark, tbl,
            base.filter(F.col("id") % 6 == 0).select(
                "id", (F.col("cents") + 1).alias("cents"), "name"
            ),
        )  # v1
        VER.drop_column(tbl, "name")  # v2: metadata-only
        assert VER.read_bucketed(spark, tbl).columns == ["id", "cents"]
        VER.merge_into_bucketed(
            spark, tbl,
            base.filter(F.col("id") % 10 == 0).select(
                "id", (F.col("cents") + 2).alias("cents")
            ),
        )  # v3: narrow merge
        old = VER.read_bucketed(spark, tbl, version=1).select(
            "id", F.col("name").alias("dropped_name")
        )
        out = (
            VER.read_bucketed(spark, tbl)
            .join(old, "id")
            .select("id", "cents", "dropped_name")
            .orderBy("id")
            .transform(pin, "drop_column: out", "eager")
        )
    return out


def q_null_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-count zone maps end-to-end (``sources/skipping.py``, r10):
    documents gain a genuinely-nullable derived column (``lang`` nulled
    for 'en' rows), land as a zone-mapped layout range-clustered on it —
    nulls sort together under ``repartitionByRange``, so all-null files
    exist and per-file null counts (Delta nullCount stats) actually prune
    — and BOTH null predicates read back through the manifest:
    ``IS NOT NULL`` skips all-null files, ``IS NULL`` skips all-non-null
    files. The output is the per-source aggregate of each read, tagged,
    so a wrong skip (dropped file) breaks counts/sums against the oracle,
    which replays the two predicates relationally on the raw table."""
    from semantic_index_spark.sources import skipping as Z

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.when(F.col("lang") != "en", F.col("lang")).alias("lang_nn"),
    )
    with _scratch("null_skip_") as tmp:
        tbl = os.path.join(tmp, "docs_zm")
        Z.write_skipping(
            d, tbl, stats_cols=["doc_id", "lang_nn"], n_files=8, cluster_by="lang_nn"
        )

        def _agg(op: str, tag: str) -> DataFrame:
            return (
                Z.read_skipping(spark, tbl, [("lang_nn", op, None)])
                .groupBy("source")
                .agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.sum("doc_id").alias("sum_id"),
                )
                .withColumn("which", F.lit(tag))
            )

        out = (
            _agg("is_not_null", "nonnull")
            .unionByName(_agg("is_null", "null"))
            .orderBy("which", "source")
            .transform(pin, "null_skipping: out", "eager")
        )
    return out


def q_time_travel_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp time travel end-to-end (``sources/versioned.py
    resolve_as_of``, r10): three commits land on a plain versioned table
    (orders slices by priority class), a wall-clock instant is captured
    between each pair, and each instant's ``as_of_ts`` read must resolve
    to exactly the version that was latest then — the output aggregates
    every as-of read (row count + revenue checksum per snapshot), so a
    wrong resolution (off-by-one version, inclusive-boundary mistake)
    changes the hashed numbers. Wall-times live ONLY in the side ledger;
    the output depends on commit ORDER alone, which is why this query can
    carry a hard oracle: the oracle rebuilds the three cumulative
    snapshot states relationally."""
    import time as _time

    from semantic_index_spark.sources import versioned as VER

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        # fixed-point: floor(x*100 + 0.5) renders identically in Spark and
        # DuckDB (a bare double->bigint cast truncates in Spark, rounds in
        # DuckDB)
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    with _scratch("ts_travel_") as tmp:
        tbl = os.path.join(tmp, "orders_tbl")
        instants = []
        # commit k = priorities 1..k+1 — strictly growing snapshots
        for k in range(1, 4):
            slice_k = o.filter(F.substring("o_orderpriority", 1, 1) <= str(k))
            if k == 1:
                VER.commit_version(slice_k, tbl)
            else:
                VER.commit_version(slice_k, tbl, expected_version=k - 2)
            instants.append(_time.time())
            _time.sleep(0.02)
        rows = []
        for k, t in enumerate(instants, start=1):
            snap = VER.read_version(spark, tbl, as_of_ts=t)
            agg = snap.agg(
                F.count(F.lit(1)).alias("n"), F.sum("cents").alias("rev_cents")
            ).collect()[0]
            rows.append((k, agg["n"], agg["rev_cents"]))
        out = spark.createDataFrame(
            rows, "snapshot int, n_orders bigint, rev_cents bigint"
        ).orderBy("snapshot")
        out = pin(out, "time_travel_as_of: out", "eager")
    return out


AA_PART_MOD = 10  # sub-graph selector: every 10th part — density SF-invariant
AA_MAX_DEG = 48  # hub cutoff — the Σdeg² wedge-space lever
ACF_MAX_LAG = 3
SPLIT_WIDTH = 25.0  # n_chars histogram bucket width (44..577 → ~22 buckets)


def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction over the part–part co-purchase
    sub-graph (operators/graph.py adamic_adar): unconnected part pairs
    ranked by Σ 1/ln(deg) over mutual neighbors, hub centers capped at
    AA_MAX_DEG. Per-center weights fixed-pointed to micro-units so the
    pair score is an exact BIGINT sum; the oracle replays the wedge join,
    the cap, and the anti-join literally."""
    from semantic_index_spark.operators import graph as G

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") % AA_PART_MOD == 0
    )
    l2 = li.select(F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("_pk"))
    edges = (
        li.join(l2, (li["l_orderkey"] == l2["_ok"]) & (li["l_partkey"] < l2["_pk"]))
        .select(F.col("l_partkey").alias("src"), F.col("_pk").alias("dst"))
        .distinct()
    )
    return G.adamic_adar(
        edges, max_degree=AA_MAX_DEG, min_common=2, assume_canonical=True
    )


def q_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user consecutive-day activity streaks via gaps-and-islands
    (operators/timeseries.py activity_streaks) — islands keyed by
    day − row_number under a user-partitioned window (high-cardinality
    key, never a funnel). The oracle is the same idiom in SQL."""
    ev = load_table(spark, sf_dir, "events")
    return TS.activity_streaks(ev, "user_id", "ts").withColumnRenamed(
        "user", "user_id"
    )


def q_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..3 autocorrelation of each event type's daily volume
    (operators/timeseries.py autocorrelation). The Pearson ratio is
    expanded to exact BIGINT moments with ONE final IEEE division, so
    both engines emit the identical double — no float-sum ordering."""
    ev = load_table(spark, sf_dir, "events")
    return TS.autocorrelation(ev, "ts", "event_type", max_lag=ACF_MAX_LAG)


def q_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-stratified treatment-effect readout (operators/stats.py
    stratified_treatment_effect): does URGENT order priority associate
    with higher order value within each market segment? Outcome in exact
    integer cents; each mean is one IEEE division — bit-stable on both
    engines."""
    from semantic_index_spark.operators import stats as ST

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.col("o_orderpriority") == "1-URGENT").alias("treated"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = o.join(c, o["o_custkey"] == c["c_custkey"])
    return ST.stratified_treatment_effect(base, "c_mktsegment", "treated", "cents")


def q_best_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump split finder (operators/stats.py best_split):
    information gain of every n_chars threshold against the is-English
    label, histogram-based the way distributed GBDT does it — the corpus
    collapses to ~22 bucket rows in one partial-agg shuffle and the
    cumulative window runs over buckets only. The oracle replays the
    cumulative contingency and the entropy arithmetic."""
    from semantic_index_spark.operators import stats as ST

    d = load_table(spark, sf_dir, "documents").select(
        "n_chars", (F.col("lang") == "en").cast("int").alias("is_en")
    )
    return ST.best_split(d, "n_chars", "is_en", bucket_width=SPLIT_WIDTH)


PHRASE = "table hash"
GEO_RADIUS = 60  # grid cell width == query radius; coords on a 10k x 10k grid


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase query via a positional inverted index
    (operators/text_analysis.py phrase_search): postings filtered to the
    phrase's words BEFORE any shuffle, one (doc, position+i) equi-join
    per extra word — never a LIKE scan. The oracle rebuilds positions
    with generate_series subscripts and replays the join."""
    d = load_table(spark, sf_dir, "documents")
    return TA.phrase_search(d, PHRASE)


def q_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-user daily calendar with last-observation-carried-forward
    gap fill (operators/timeseries.py resample_locf): exact integer-cents
    daily sums, in-JVM spine explode from a 2-row-per-key aggregate, one
    last(ignorenulls) window per key. The oracle replays the spine and
    the IGNORE NULLS fill."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return TS.resample_locf(ev, "ts", "user_id", "value")


def q_geo_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial neighbor self-join (operators/geo.py grid_neighbor_join):
    customers placed on a 10k×10k integer grid by md5-derived
    coordinates, all pairs within Euclidean distance GEO_RADIUS via the
    3×3 cell stencil + exact integer dist². The oracle is the literal
    O(n²) theta join — the grid must reproduce it row-for-row."""
    from semantic_index_spark.functions.text import md5_bigint
    from semantic_index_spark.operators import geo as GEO

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        (md5_bigint(F.col("c_custkey").cast("string"), salt="gx:") % 10000).alias("x"),
        (md5_bigint(F.col("c_custkey").cast("string"), salt="gy:") % 10000).alias("y"),
    )
    return GEO.grid_neighbor_join(c, radius=GEO_RADIUS)


GOLD_DOC_CAP = 2500
EM_K, EM_EPS = 5, 1.0


def q_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship after record linkage (operators/dedup.py
    golden_records): cluster near-dup documents (minhash LSH pairs →
    connected components), then collapse each cluster to one canonical
    record — min id, member count, max n_chars, most-frequent lang and
    source with deterministic smallest-value tie-breaks. The oracle
    replays the closure as a recursive CTE and the per-field modes as
    ranked windows."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < GOLD_DOC_CAP)
    # MinHash signatures are per-document, so the capped corpus's pair set
    # is exactly the shared full-corpus artifact restricted to pairs whose
    # BOTH endpoints survive the cap — no recompute needed.
    pairs = shared_lsh_pairs(spark, sf_dir).filter(
        (F.col("id_a") < GOLD_DOC_CAP) & (F.col("id_b") < GOLD_DOC_CAP)
    )
    labels = D.connected_components(d.select("doc_id"), pairs)
    return D.golden_records(
        d, labels, mode_cols=["lang", "source"], max_cols=["n_chars"]
    )


def q_dp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-mechanism top-k (operators/privacy.py
    dp_exponential_topk): DP-select the EM_K document sources with the
    most documents via the one-shot Gumbel-max trick — the selection
    counterpart of the Laplace count release. Reproducible md5 noise
    (documented caveat) lets the oracle replay the release."""
    from semantic_index_spark.operators import privacy as P

    d = load_table(spark, sf_dir, "documents")
    return P.dp_exponential_topk(d, "source", k=EM_K, epsilon=EM_EPS)


KMV_K = 256
PQ_M, PQ_K, PQ_ITERS, PQ_QVEC, PQ_TOPN = 4, 16, 2, 3, 10

# Session-scoped frozen PQ artifacts (same contract as shared_lsh_pairs):
# three registry queries (pq_topk, ivfpq_topk, ivfpq_incremental) train the
# IDENTICAL per-subspace codebooks over the full embeddings corpus —
# pq_train_encode's documented train-once/frozen-codebook semantics. A real
# pipeline trains once and serves many; recomputing the Lloyd's rounds per
# bench query was the r7 verdict's remaining recompute-shape finding. Keyed
# by applicationId so a fresh driver never sees stale artifacts; the codes
# DataFrame is pinned eagerly so consumers share one materialization, and
# the codebooks are plain driver-held floats.
def shared_pq_artifacts(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list]:
    def build() -> tuple[DataFrame, list]:
        emb = load_table(spark, sf_dir, "embeddings")
        codes, cb = S.pq_train_encode(emb, m_sub=PQ_M, k=PQ_K, iters=PQ_ITERS)
        return pin(codes, "pq_codes", "eager"), cb

    return _session_memo(spark, sf_dir, "pq_artifacts", build)


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN end-to-end (operators/similarity.py
    pq_train_encode + pq_topk): train 4×16 per-subspace codebooks
    (Lloyd's rounds with the kmeans_fit 1e-6 re-entry contract), encode
    the corpus to 4 codes per vector (16× memory cut), and serve a
    query via the ADC lookup table — fixed-pointed to micros so the
    per-vector distance is an exact BIGINT sum. Corpus floats are never
    touched at query time. The oracle unrolls the per-subspace k-means
    CTE rounds and replays encode + LUT + top-k. Codebooks/codes come
    from the session-shared frozen artifact (shared_pq_artifacts)."""
    emb = load_table(spark, sf_dir, "embeddings")
    codes, cb = shared_pq_artifacts(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == PQ_QVEC).collect()[0]["embedding"]
    return S.pq_topk(codes, cb, q, k_results=PQ_TOPN)


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct users via KMV bottom-k sketches
    (functions/sketch.py kmv_sketch_by + kmv_estimates): sketches are
    k rows per group after one map-side-combinable distinct; groups with
    < k distinct values return exact counts, larger ones the classic
    (k−1)·2⁶⁰/h_k estimator — both paths exercised across the two SFs.
    The oracle replays the md5 ranks bit-for-bit."""
    from semantic_index_spark.functions import sketch as SKC

    ev = load_table(spark, sf_dir, "events")
    sk = SKC.kmv_sketch_by(ev, "user_id", "event_type", k=KMV_K)
    return SKC.kmv_estimates(sk, "event_type", k=KMV_K)


def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience-overlap estimates from coordinated KMV sketches
    (functions/sketch.py kmv_pair_overlap) — the set-INTERSECTION query
    HLL cannot serve and the sketch-sized counterpart of the exact
    bitmap audience_overlap row: per event-type pair, Jaccard over the
    union's bottom-k + scaled intersection. All joins sketch-sized;
    the only cross product is the tiny group list."""
    from semantic_index_spark.functions import sketch as SKC

    ev = load_table(spark, sf_dir, "events")
    sk = SKC.kmv_sketch_by(ev, "user_id", "event_type", k=KMV_K)
    return SKC.kmv_pair_overlap(sk, "event_type", k=KMV_K)


MNN_CAP = 800
SEQ_MIN_SUPPORT = 2


def q_sequence_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gapped-subsequence support (operators/mining.py sequence_support):
    per ordered event-type pair, users who did a then LATER b — the
    existence trick (min_ts(a) < max_ts(b)) makes it one groupBy + a
    user-keyed self-join, no sequence scan. Complements the
    adjacent-pair Markov matrix. Oracle replays the trick literally."""
    from semantic_index_spark.operators import mining as MN

    ev = load_table(spark, sf_dir, "events")
    return MN.sequence_support(ev, min_support=SEQ_MIN_SUPPORT)


def q_mutual_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal best-match pairs over a capped embedding panel
    (operators/similarity.py mutual_nn): one BLAS multi-query top-2
    pass, per-query argmax, and the (a→b, b→a) mutuality join. The
    oracle is the literal O(n²) definition — the pruned pass must
    reproduce it row-for-row."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < MNN_CAP)
    return S.mutual_nn(emb)


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ serving end-to-end (operators/similarity.py ivfpq_topk):
    prune to the query's IVF_NPROBE max-dot cells, then ADC-score ONLY
    those candidates from their PQ codes — the FAISS default index
    family as DataFrame ops. Candidate scan is nprobe/K of the corpus;
    scoring touches code bytes, never floats. The oracle adds the cell
    filter to the unrolled PQ replay. Codebooks/codes come from the
    session-shared frozen artifact (shared_pq_artifacts)."""
    emb = load_table(spark, sf_dir, "embeddings")
    codes, cb = shared_pq_artifacts(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == PQ_QVEC).collect()[0]["embedding"]
    return S.ivfpq_topk(
        emb, codes, cb, CENTROIDS, q, k_results=PQ_TOPN, nprobe=IVF_NPROBE
    )


def q_ivfpq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF-PQ index maintenance riding the stream, end-to-end
    (similarity.write_ivfpq_index/append_ivfpq_index +
    streaming/ingest.incremental_ivfpq_sink): train the frozen artifacts
    offline (deterministic full-corpus pq_train_encode), build the base
    ``_cell=``-partitioned code layout from two thirds of the corpus,
    stream the remaining third as 2 micro-batches through the sink (each
    epoch PQ-encodes against the frozen codebooks and lands as its own
    batch_id partitions — exactly-once via dynamic partition overwrite),
    then serve the SAME query q_ivfpq_topk answers ad hoc. Because cell
    assignment and encoding are pure functions of (embedding, frozen
    artifacts), the served top-k must be row-identical to the ad-hoc
    path — the oracle is ivfpq_topk's unrolled PQ replay verbatim."""
    from semantic_index_spark.streaming import ingest as SI

    emb = load_table(spark, sf_dir, "embeddings")
    _, cb = shared_pq_artifacts(spark, sf_dir)
    qv = emb.filter(F.col("vec_id") == PQ_QVEC).collect()[0]["embedding"]
    base = emb.filter(F.col("vec_id") % 3 != 2).select("vec_id", "embedding")
    src = os.path.join(
        _replay_sources(
            spark,
            sf_dir,
            "ivfpq",
            [
                (
                    f"src/batch{b}.parquet",
                    emb.filter(
                        (F.col("vec_id") % 3 == 2) & (F.col("vec_id") % 2 == b)
                    ).select("vec_id", "embedding"),
                )
                for b in range(2)
            ],
        ),
        "src",
    )
    with _scratch("ivfpq_inc_") as tmp:
        idx = os.path.join(tmp, "index")
        S.write_ivfpq_index(base, cb, CENTROIDS, idx)
        stream = _file_stream(spark, "vec_id bigint, embedding array<float>", src)
        sink = SI.incremental_ivfpq_sink(idx, cb, CENTROIDS)
        with _stream_shuffle_partitions(spark):
            SI.run_batch_like(
                stream.writeStream.foreachBatch(sink)
                .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            )
        final = S.ivfpq_topk_indexed(
            spark, idx, cb, CENTROIDS, qv, k_results=PQ_TOPN, nprobe=IVF_NPROBE
        ).transform(pin, "ivfpq_incremental: final", "eager")
    return final


HP_LO, HP_HI = "2024-01-10", "2024-01-13"
HP_USERS = list(range(1, 21))


# Session-memoized hidden-partitioned copy of `events` (same once-per-session
# contract as _replay_sources): the table layout is a pure function of the
# source table and the fixed spec, so bench reps and the driver's
# oracle-compare reuse one build.
def _hidden_events_table(spark: SparkSession, sf_dir: str) -> str:
    from semantic_index_spark.sources import hidden as H

    def write() -> str:
        tbl = os.path.join(_session_root("hidden_events"), "events_hidden")
        H.create_hidden(
            load_table(spark, sf_dir, "events"),
            tbl,
            [("day", "ts"), ("bucket", "user_id", 8)],
        )
        return tbl

    return _session_memo(spark, sf_dir, "hidden_events", write)


def q_hidden_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style hidden partitioning end-to-end (sources/hidden.py):
    events live in a table whose layout is day(ts) × bucket(8, user_id) —
    transforms the QUERY never mentions. The reader takes plain source
    predicates (a 3-day ts window + a user_id in-list), rewrites them onto
    the partition columns (PartitionFilters — planning-time directory
    pruning, plan-locked in tests/test_io.py), applies the originals as
    residuals, and aggregates. Pruning is IO-only, so the oracle is the
    identical predicates on the raw parquet table."""
    from semantic_index_spark.sources import hidden as H

    tbl = _hidden_events_table(spark, sf_dir)
    got = H.read_hidden(
        spark,
        tbl,
        filters=[
            ("ts", ">=", HP_LO),
            ("ts", "<", HP_HI),
            ("user_id", "in", HP_USERS),
        ],
    )
    return got.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
    )


ZM_LO, ZM_HI = "1996-01-01", "1996-07-01"


# Session-memoized zone-mapped copy of `lineitem`, range-clustered by ship
# date (same once-per-session contract as _hidden_events_table).
def _zonemap_lineitem_table(spark: SparkSession, sf_dir: str) -> str:
    from semantic_index_spark.sources import skipping as Z

    def write() -> str:
        tbl = os.path.join(_session_root("zonemap_li"), "lineitem_zm")
        Z.write_skipping(
            load_table(spark, sf_dir, "lineitem"),
            tbl,
            ["l_shipdate", "l_orderkey"],
            n_files=32,
            cluster_by="l_shipdate",
            # point-lookup skipping on a column the clustering does NOT help:
            # partkeys are spread uniformly across every ship-date file, so
            # only the per-file bloom bitmaps can rule files out
            bloom_cols=["l_partkey"],
        )
        return tbl

    return _session_memo(spark, sf_dir, "zonemap_li", write)


def q_zonemap_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level data skipping via zone maps (sources/skipping.py) — the
    Delta/Iceberg column-stats pruning story: lineitem lives range-
    clustered by ship date across 32 files with per-file min/max recorded
    in a manifest; a 6-month window predicate eliminates every file whose
    range cannot match BEFORE the scan (candidate_files asserts the
    selectivity in tests), and the residual predicate makes results
    skipping-independent — the oracle is the plain predicate on the raw
    table. Returns exact revenue cents by return flag over the window."""
    from semantic_index_spark.sources import skipping as Z

    tbl = _zonemap_lineitem_table(spark, sf_dir)
    df = Z.read_skipping(
        spark, tbl, [("l_shipdate", ">=", ZM_LO), ("l_shipdate", "<", ZM_HI)]
    )
    return df.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("bigint")
        ).alias("revenue_cents"),
    )


def q_ivm_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance from the change feed
    (sources/versioned.py maintain_group_agg): a per-lang (count, sum of
    n_chars) view of the bucketed documents table is maintained across a
    MERGE by absorbing the diff_bucketed DELTA — retract (−1, −old) for
    deletes, add (+1, +new) for inserts, both for updates — instead of
    rescanning. The maintained view must equal a full recompute of the
    post-merge state, which is exactly what the oracle computes
    relationally; the view reads the change set (merge-batch-sized), not
    the table."""
    from semantic_index_spark.sources import versioned as VER

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    target = d.filter(F.col("doc_id") % 3 != 0)
    src = d.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        "lang",
        (F.col("n_chars") + 1000).alias("n_chars"),
        F.when(F.col("doc_id") % 10 == 0, F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
    )
    with _scratch("ivm_agg_") as tmp:
        tbl = os.path.join(tmp, "docs_tbl")
        VER.create_bucketed(target, tbl, ["doc_id"], n_buckets=16)
        base = (
            VER.read_bucketed(spark, tbl, version=0)
            .groupBy("lang")
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum("n_chars").cast("bigint").alias("sum_value"),
            )
            .transform(pin, "ivm_agg: base", "eager")  # the view as of v0, pinned
        )
        VER.merge_into_bucketed(spark, tbl, src, op_col="op")
        changes = VER.diff_bucketed(spark, tbl, 0, 1)
        out = (
            VER.maintain_group_agg(base, changes, "lang", "n_chars")
            .select(
                "lang",
                "n_rows",
                F.col("sum_value").cast("bigint").alias("sum_chars"),
            )
            .transform(pin, "ivm_agg: out", "eager")
        )
    return out


SQ_K = 512
SQ_PS = [0.25, 0.5, 0.9, 0.99]


def q_sampled_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bound-free mergeable quantiles from a hash-rank uniform sample
    (functions/sketch.py hashrank_sample/sample_quantiles): keep the
    SQ_K rows of lineitem with the smallest md5(row key), estimate each
    p-quantile of l_extendedprice as the sample's value at sorted index
    floor(p·(n−1)) — integer-exact "lower" interpolation so both engines
    agree bitwise. Unlike the fixed-bin histogram quantiles this needs no
    [lo, hi] bounds up front, and unlike approx_percentile it is
    deterministic and engine-portable; the oracle replays the identical
    ranks and order statistics in SQL."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "_rk", F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))
    )
    s = pin(
        SKT.hashrank_sample(li, "_rk", ["l_extendedprice"], k=SQ_K), "sampled_quantiles", "eager"
    )
    return SKT.sample_quantiles(s, "l_extendedprice", SQ_PS)


BL_PART = 1117


def q_bloom_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file Bloom-index skipping (sources/skipping.py bloom_cols) —
    Delta's bloom-filter-index story: the lineitem files are clustered by
    ship date, so a part-key point lookup gets NOTHING from zone maps
    (every file spans the key domain); the per-file md5-bloom bitmaps
    rule out files where the key is definitely absent, and the residual
    predicate keeps results skipping-independent. The oracle is the plain
    predicate on the raw table; the selectivity contract (few of 32 files
    scanned, absent key scans zero) is pytest-asserted."""
    from semantic_index_spark.sources import skipping as Z

    tbl = _zonemap_lineitem_table(spark, sf_dir)
    df = Z.read_skipping(spark, tbl, [("l_partkey", "=", BL_PART)])
    return df.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("l_quantity").cast("bigint").alias("total_qty"),
        F.count_distinct("l_orderkey").cast("bigint").alias("n_orders"),
    )


def q_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE via deletion vectors (sources/versioned.py
    delete_bucketed) — Delta DV / Iceberg delete-file semantics: two
    successive delete commits land ONLY per-bucket key files (the data
    buckets keep their original owning version — zero rewrite,
    pytest-asserted), readers anti-join the accumulated DV keys, and the
    next merge folds them in. The oracle applies the same two key
    predicates relationally; per-lang rollup keeps the compare bounded."""
    from semantic_index_spark.sources import versioned as VER

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    with _scratch("dv_demo_") as tmp:
        tbl = os.path.join(tmp, "docs_tbl")
        VER.create_bucketed(d, tbl, ["doc_id"], n_buckets=16)
        VER.delete_bucketed(spark, tbl, d.filter(F.col("doc_id") % 9 == 0).select("doc_id"))
        VER.delete_bucketed(spark, tbl, d.filter(F.col("doc_id") % 13 == 0).select("doc_id"))
        out = (
            VER.read_bucketed(spark, tbl)
            .groupBy("lang")
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
            )
            .transform(pin, "delete_vectors: out", "eager")
        )
    return out


SQB_K, SQB_PS = 64, [0.5, 0.9]


def q_grouped_sample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group bound-free quantiles from stratified hash-rank samples
    (functions/sketch.py hashrank_sample_by/sample_quantiles_by): each
    lang keeps its own exactly-mergeable k-row sample of documents, and
    per-group medians/p90s read sample-sized relations — the stratified
    form of sampled_quantiles (per-domain statistics at 100 TB each touch
    k rows, not the stratum). Same integer lower interpolation, so the
    oracle's identical rank replay hash-matches."""
    d = load_table(spark, sf_dir, "documents")
    s = SKT.hashrank_sample_by(d, "doc_id", "lang", ["n_chars"], k=SQB_K)
    return SKT.sample_quantiles_by(s, "lang", "n_chars", SQB_PS)


MG_K = 16


def q_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters across a 3-batch merge sequence
    (functions/sketch.py mg_summary/mg_merge): events split by
    event_id % 3, each batch's exact counts reduce to a k=MG_K counter
    summary, summaries merge pairwise (counter add + (k+1)-th-largest
    reduction — Agarwal 2012 mergeable-summaries algebra, error bounds
    add to n/(k+1)). Deterministic count arithmetic, so the oracle
    unrolls the identical batch/merge sequence in SQL and even the
    reduced counts hash-match. The guaranteed-containment complement to
    CMS point estimates: any user with true count > n/(k+1) is in here."""
    ev = load_table(spark, sf_dir, "events")
    batches = [ev.filter(F.col("event_id") % 3 == b) for b in range(3)]
    s = SKT.mg_summary(batches[0], "user_id", k=MG_K)
    for b in batches[1:]:
        s = SKT.mg_merge(s, SKT.mg_summary(b, "user_id", k=MG_K), k=MG_K)
    return s.select(F.col("item").cast("bigint").alias("user_id"), "cnt")


def _mg_oracle_sql() -> str:
    """Unrolled 3-batch MG sequence: per batch, exact counts → reduce by
    the 17th-largest; merges sum then reduce again."""
    k = MG_K

    def reduce_cte(src: str, out: str) -> str:
        return f"""
            {out}_r AS (
                SELECT item, cnt,
                       row_number() OVER (ORDER BY cnt DESC, item) AS r
                FROM {src}
            ),
            {out}_d AS (
                SELECT coalesce(max(CASE WHEN r = {k + 1} THEN cnt END), 0) AS d
                FROM {out}_r
            ),
            {out} AS (
                SELECT item, (cnt - d)::BIGINT AS cnt
                FROM {out}_r, {out}_d
                WHERE r <= {k} AND cnt - d > 0
            )"""

    ctes = []
    for b in range(3):
        ctes.append(
            f"""
            c{b} AS (
                SELECT user_id AS item, count(*)::BIGINT AS cnt
                FROM events
                WHERE event_id % 3 = {b} AND user_id IS NOT NULL
                GROUP BY 1
            )"""
        )
        ctes.append(reduce_cte(f"c{b}", f"s{b}"))
    ctes.append(
        """
            m1 AS (
                SELECT item, sum(cnt)::BIGINT AS cnt FROM (
                    SELECT * FROM s0 UNION ALL SELECT * FROM s1
                ) GROUP BY 1
            )"""
    )
    ctes.append(reduce_cte("m1", "t1"))
    ctes.append(
        """
            m2 AS (
                SELECT item, sum(cnt)::BIGINT AS cnt FROM (
                    SELECT * FROM t1 UNION ALL SELECT * FROM s2
                ) GROUP BY 1
            )"""
    )
    ctes.append(reduce_cte("m2", "t2"))
    return (
        "WITH " + ",".join(ctes) + "\n            SELECT item::BIGINT AS user_id, cnt FROM t2"
    )


AS_CUT, AS_LO, AS_HI = "2024-01-21", "2024-01-18", "2024-01-24"


def q_append_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental zone-map maintenance (sources/skipping.py
    append_skipping): the events table lands as a ship-date-clustered
    base (first ~20 days) plus an APPENDED batch (the rest) whose files
    get their own zone maps under the fixed stats config — existing
    files and their stats untouched. The query window straddles the
    append boundary, so correct results REQUIRE candidates from both the
    original and appended files; the oracle is the plain window predicate
    on the raw table."""
    from semantic_index_spark.sources import skipping as Z

    ev = load_table(spark, sf_dir, "events")
    with _scratch("append_zm_") as tmp:
        tbl = os.path.join(tmp, "events_zm")
        Z.write_skipping(
            ev.filter(F.col("ts") < AS_CUT), tbl, ["ts"], n_files=8, cluster_by="ts"
        )
        Z.append_skipping(
            ev.filter(F.col("ts") >= AS_CUT), tbl, n_files=4, cluster_by="ts"
        )
        df = Z.read_skipping(spark, tbl, [("ts", ">=", AS_LO), ("ts", "<", AS_HI)])
        out = (
            df.groupBy("event_type")
            .agg(
                F.count("*").cast("bigint").alias("n_events"),
                F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
            )
            .transform(pin, "append_skipping: out", "eager")
        )
    return out


MRL_DIMS, MRL_QVEC = 16, 5


def q_mrl_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncated-embedding retrieval (operators/similarity.py
    mrl_truncate, Kusupati 2022): serve top-k from the first MRL_DIMS of
    64 coordinates, re-normalized — 4× less vector IO and FLOPs per
    query, the dial MRL-trained encoders expose. Exact over the truncated
    space (scan → slice/renorm JVM fold → TakeOrderedAndProject); the
    oracle replays the slice, renorm, and sequential-fold dot in SQL, so
    even the floats hash-match."""
    emb = load_table(spark, sf_dir, "embeddings")
    trunc = S.mrl_truncate(emb, MRL_DIMS)
    qv = trunc.filter(F.col("vec_id") == MRL_QVEC).collect()[0]["embedding"]
    return S.topk(trunc, list(qv), k=KNN_K)


def q_optimize_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE / compaction of the deletion-vector trade
    (sources/versioned.py optimize_bucketed): accumulate DV deletes, then
    compact — DVs fold into freshly written buckets and clear, the
    logical state is bit-identical across the optimize (the oracle reads
    the POST-optimize table but is just the delete predicate on the
    base), and time travel to the pre-optimize DV state still works
    (pytest). Delta OPTIMIZE / Iceberg rewrite_data_files semantics."""
    from semantic_index_spark.sources import versioned as VER

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    with _scratch("opt_demo_") as tmp:
        tbl = os.path.join(tmp, "docs_tbl")
        VER.create_bucketed(d, tbl, ["doc_id"], n_buckets=16)
        VER.delete_bucketed(spark, tbl, d.filter(F.col("doc_id") % 11 == 0).select("doc_id"))
        VER.optimize_bucketed(spark, tbl)
        assert not VER._read_manifest(tbl).get("dv")
        out = (
            VER.read_bucketed(spark, tbl)
            .groupBy("lang")
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
            )
            .transform(pin, "optimize_demo: out", "eager")
        )
    return out


MOTIF_DEG_CAP = 150  # prunes the top ~10% co-purchase hubs at both SFs
MOTIF_WEDGE_CAP = 100  # tighter production cap for the negation headliner


def q_motif_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphFrames-style motif finding (operators/graph.py find_motifs):
    the transitive-triangle pattern "(a)-[]->(b); (b)-[]->(c); (a)-[]->(c)"
    compiled to two hash equi-joins + the closing-edge join over the
    canonical (src<dst) co-purchase graph, rolled up to feed-forward
    triangles per root vertex. Matched with ``max_degree=MOTIF_DEG_CAP``
    (r9): the uncapped wedge join is Σdeg² on the shared vertex and
    detonates on a hub-heavy 100× graph, so the REGISTRY headline runs the
    cap·m-bounded induced-subgraph plan (uncapped-vs-capped parity on
    sub-cap graphs stays pytest-asserted; exact full-graph triangle
    counting remains the oriented O(m^1.5) ``triangle_count`` row). The
    oracle recomputes the induced subgraph literally (degree CTE → hub
    exclusion) then the ordered 3-way self-join grouped the same way."""
    from semantic_index_spark.operators import graph as G

    e = _copurchase_edges(spark, sf_dir)
    m = G.find_motifs(
        e, "(a)-[]->(b); (b)-[]->(c); (a)-[]->(c)", max_degree=MOTIF_DEG_CAP
    )
    return m.groupBy(F.col("a").alias("root")).agg(
        F.count("*").cast("bigint").alias("n_ffw")
    )


def q_motif_open_wedges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Motif NEGATION end-to-end: "(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)"
    — two-hop paths whose closing edge is ABSENT (the link-prediction
    candidate set), where the negated term compiles to an anti-join
    against the edge list rather than enumerating the complement. Matched
    with ``max_degree=MOTIF_WEDGE_CAP`` (r9): link-prediction candidates
    FROM hubs are the lowest-value, highest-cost rows, so the headline
    prunes them up front — a tighter cap than motif_capped_wedges' 150, so
    the two rows hash-lock the capping semantics at two distinct
    operating points. One-row summary (wedge count, distinct roots, root
    checksum) so the hash-compare stays bounded while every anti-join row
    still feeds the aggregate."""
    from semantic_index_spark.operators import graph as G

    e = _copurchase_edges(spark, sf_dir)
    m = G.find_motifs(
        e, "(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)", max_degree=MOTIF_WEDGE_CAP
    )
    return m.agg(
        F.count("*").cast("bigint").alias("n_open"),
        F.count_distinct("a").cast("bigint").alias("n_roots"),
        F.sum(F.col("a") + F.col("c")).cast("bigint").alias("endpoint_sum"),
    )


def q_motif_capped_wedges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The find_motifs ``max_degree`` scale lever end-to-end (r8): the same
    open-wedge + negation pattern as motif_open_wedges, matched in the
    subgraph induced by vertices of total degree <= 150 — the Σdeg² wedge
    space drops from hub-dominated to cap·m-bounded, which is THE lever
    that keeps this pattern alive on a hub-heavy 100× graph. The oracle
    recomputes the induced subgraph literally (degree CTE → hub exclusion
    → wedge join → NOT EXISTS), so the driver hash checks the capping
    semantics, not just the happy path."""
    from semantic_index_spark.operators import graph as G

    e = _copurchase_edges(spark, sf_dir)
    m = G.find_motifs(
        e, "(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)", max_degree=MOTIF_DEG_CAP
    )
    return m.agg(
        F.count("*").cast("bigint").alias("n_open"),
        F.count_distinct("a").cast("bigint").alias("n_roots"),
        F.sum(F.col("a") + F.col("c")).cast("bigint").alias("endpoint_sum"),
    )


HSK_TS_LO, HSK_TS_HI = "2024-01-08", "2024-01-12"
HSK_VAL_LO, HSK_VAL_HI = 50.0, 150.0


# Session-memoized composed hidden×skipping copy of `events`: day(ts)
# partition DIRECTORIES + per-file value/user_id zone maps with rows
# value-clustered inside every day dir (same once-per-session contract as
# _hidden_events_table / _zonemap_lineitem_table).
def _hidden_skip_events_table(spark: SparkSession, sf_dir: str) -> str:
    from semantic_index_spark.sources import hidden as H

    def write() -> str:
        tbl = os.path.join(_session_root("hidden_skip_events"), "events_hidden_skip")
        H.create_hidden_skipping(
            load_table(spark, sf_dir, "events"),
            tbl,
            [("day", "ts")],
            stats_cols=["value", "user_id"],
            n_files=32,
            cluster_by="value",
        )
        return tbl

    return _session_memo(spark, sf_dir, "hidden_skip_events", write)


def q_hidden_skipping_compose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH lakehouse prunings on ONE layout (r8 — sources/hidden.py
    ``read_hidden_skipping``): events live day(ts)-partitioned with rows
    value-clustered inside each day and per-file value/user_id zone maps
    in the version manifest. A plain source predicate (4-day ts window ×
    value band) first eliminates whole day DIRECTORIES via the hidden
    transform rewrite, then FILES inside the surviving directories via
    their [min,max] ranges — Iceberg's partition-spec + manifest-stats
    story, Delta's partitioning + data skipping. Both prunings are
    IO-only (originals always reapply as residuals; pytest asserts
    pruning-independence per level), so the oracle is the identical
    predicates on the raw parquet table."""
    from semantic_index_spark.sources import hidden as H

    tbl = _hidden_skip_events_table(spark, sf_dir)
    got = H.read_hidden_skipping(
        spark,
        tbl,
        filters=[
            ("ts", ">=", HSK_TS_LO),
            ("ts", "<", HSK_TS_HI),
            ("value", ">=", HSK_VAL_LO),
            ("value", "<", HSK_VAL_HI),
        ],
    )
    return got.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
    )


def q_indexed_table_ivfsq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second co-committed index KIND (r12 — ``sources/indexed.py``
    ``attach_ivfsq_index``/``indexed_ivfsq_topk``, VERDICT r11 #4): the
    FAISS ``IVF,SQ8`` layout as a TABLE ARTIFACT — int8 code shards under
    ``__ivfsq/shard=<b>/_cell=<c>`` (shard b ≡ bucket b), the frozen
    centroids + scalar quantizer stored IN the manifest params so every
    version decodes with its own artifacts. Lifecycle: create
    (embeddings vec_id < 350) → attach (4 cells; r13 trim) → MERGE (rescale every
    7th embedding, insert id+20000 copies of the first 15) → DV-delete
    every 13th base id → serve the exhaustive-exact top-10 (nprobe = all
    cells, candidate slack ⇒ stage-2 exact rescore equals brute force)
    at the CURRENT version AND as-of the attach version. The relational
    oracle recomputes both states — a stale code shard, a leaked insert
    into the as-of serve, or an undropped DV candidate breaks the
    hash."""
    from semantic_index_spark.sources import indexed as IDX
    from semantic_index_spark.sources import versioned as VER

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 350)
    base = emb.select(F.col("vec_id").alias("id"), "embedding")
    q = emb.filter(F.col("vec_id") == 11).collect()[0]["embedding"]
    with _scratch("indexed_ivfsq_") as tmp:
        t = os.path.join(tmp, "tbl")
        # r13 trim (VERDICT r12 #6): 4 buckets / 4 cells — commit count
        # and job fan-out halve, every lifecycle contract intact
        VER.create_bucketed(base, t, ["id"], n_buckets=4)
        v_attach = IDX.attach_ivfsq_index(spark, t, n_cells=4)
        src = (
            base.filter(F.col("id") % 7 == 0)
            .select("id", F.transform("embedding", lambda x: x * F.lit(3.0).cast("float")).alias("embedding"))
            .unionByName(
                base.filter(F.col("id") < 15).select(
                    (F.col("id") + 20000).alias("id"), "embedding"
                )
            )
        )
        VER.merge_into_bucketed(spark, t, src)
        VER.delete_bucketed(
            spark, t, base.filter(F.col("id") % 13 == 0).select("id")
        )
        post = IDX.indexed_ivfsq_topk(
            spark, t, q, k=KNN_K, nprobe=4, candidates=1000
        ).withColumn("stage", F.lit("post_merge"))
        asof = IDX.indexed_ivfsq_topk(
            spark, t, q, k=KNN_K, nprobe=4, candidates=1000, version=v_attach
        ).withColumn("stage", F.lit("as_of_attach"))
        out = (
            post.unionByName(asof)
            .orderBy("stage", F.desc("score"), "vec_id")
            .transform(pin, "indexed_table_ivfsq: out", "eager")
        )
    return out


def q_string_key_indexed_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRING-keyed co-committed index (r13 — the r12 verdict's #1
    missing item, ``indexed.py`` ``_check_attachable(allow_string=)``):
    a bucketed table keyed on a string doc id carries a co-committed
    IVF-SQ8 index — shard hash = ``pmod(xxhash64(<string>), n_buckets)``,
    codes carry ``vec_id`` as an opaque string payload, the serve joins
    candidates back to rows by string id (no cast-to-long anywhere). One
    MERGE (rescale every 5th, insert 10 ``new-`` keys) + one DV-delete
    maintain the shards in their own commits; the exhaustive-exact serve
    (nprobe = all cells, candidate slack) must equal brute force over
    string ids. HNSW refuses string keys by design (graph node ids are
    longs) — that boundary is pytest-locked, not registry-tested."""
    from semantic_index_spark.sources import indexed as IDX
    from semantic_index_spark.sources import versioned as VER

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150)
    base = emb.select(
        F.concat(
            F.lit("doc-"), F.lpad(F.col("vec_id").cast("string"), 6, "0")
        ).alias("k"),
        "embedding",
        F.col("vec_id").alias("num"),
    )
    q = emb.filter(F.col("vec_id") == 7).collect()[0]["embedding"]
    with _scratch("strkey_idx_") as tmp:
        t = os.path.join(tmp, "tbl")
        VER.create_bucketed(base.drop("num"), t, ["k"], n_buckets=4)
        IDX.attach_ivfsq_index(spark, t, n_cells=4)
        src = (
            base.filter(F.col("num") % 5 == 0)
            .select(
                "k",
                F.transform(
                    "embedding", lambda x: x * F.lit(2.0).cast("float")
                ).alias("embedding"),
            )
            .unionByName(
                base.filter(F.col("num") < 10).select(
                    F.concat(F.lit("new-"), F.col("k")).alias("k"), "embedding"
                )
            )
        )
        VER.merge_into_bucketed(spark, t, src)
        VER.delete_bucketed(
            spark, t, base.filter(F.col("num") % 11 == 0).select("k")
        )
        out = (
            IDX.indexed_ivfsq_topk(spark, t, q, k=KNN_K, nprobe=4, candidates=500)
            .orderBy(F.desc("score"), "vec_id")
            .transform(pin, "string_key_indexed_table: out", "eager")
        )
    return out


def q_multi_index_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-index tables (r12 — ``sources/indexed.py``, the manifest's
    ``indexes = {name: spec}`` map; r13 adds the THIRD kind): ONE
    bucketed table carries co-committed HNSW, IVF-SQ8 AND IVF-PQ
    indexes, and a single MERGE + DV-delete maintains all three — each
    index's affected shards rebuild inside the merge's one staged
    commit, the DV applies as a graph tombstone on one and a
    rescore-join drop on the others. All serves run exhaustive-exact
    (``ef=None``; nprobe = all cells + candidate slack), so they must
    return the IDENTICAL top-10 — the oracle computes the brute-force
    answer once and expects it under all three index labels; any index
    drifting from the table (or from the others) breaks the hash.
    (r13 also trims the lifecycle per VERDICT r12 #6: 4 buckets / 4
    cells / 200-vector slice — every contract intact.)"""
    from semantic_index_spark.sources import indexed as IDX
    from semantic_index_spark.sources import versioned as VER

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    base = emb.select(F.col("vec_id").alias("id"), "embedding")
    q = emb.filter(F.col("vec_id") == 21).collect()[0]["embedding"]
    with _scratch("multi_index_") as tmp:
        t = os.path.join(tmp, "tbl")
        VER.create_bucketed(base, t, ["id"], n_buckets=4)
        IDX.attach_hnsw_index(spark, t, m=4, ef_construction=16)
        IDX.attach_ivfsq_index(spark, t, n_cells=4)
        IDX.attach_ivfpq_index(spark, t, m_sub=4, pq_k=8, iters=1, n_cells=4)
        src = (
            base.filter(F.col("id") % 6 == 0)
            .select(
                "id",
                F.transform(
                    "embedding", lambda x: x * F.lit(2.0).cast("float")
                ).alias("embedding"),
            )
            .unionByName(
                base.filter(F.col("id") < 10).select(
                    (F.col("id") + 30000).alias("id"), "embedding"
                )
            )
        )
        VER.merge_into_bucketed(spark, t, src)
        VER.delete_bucketed(
            spark, t, base.filter(F.col("id") % 11 == 0).select("id")
        )
        g = IDX.indexed_hnsw_topk(spark, t, q, k=KNN_K, ef=None).withColumn(
            "index_name", F.lit("hnsw")
        )
        s = IDX.indexed_ivfsq_topk(
            spark, t, q, k=KNN_K, nprobe=4, candidates=600
        ).withColumn("index_name", F.lit("ivfsq"))
        pq = IDX.indexed_ivfpq_topk(
            spark, t, q, k=KNN_K, nprobe=4, candidates=600
        ).withColumn("index_name", F.lit("ivfpq"))
        out = (
            g.unionByName(s).unionByName(pq)
            .orderBy("index_name", F.desc("score"), "vec_id")
            .transform(pin, "multi_index_table: out", "eager")
        )
    return out


def q_index_maintenance_advice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dry-run compaction advisor for the standalone HNSW layout (r12 —
    ``operators/hnsw.py`` ``hnsw_maintenance_status``, the graph twin of
    the versioned store's ``maintenance_status``): build an index over
    embeddings vec_id < 280 (base 240 + one streamed epoch of 40),
    tombstone every 5th id (56/280 = exactly the 0.2 ratio threshold →
    recommend), then compact and re-inspect (folded graph, zero
    tombstones, no recommendation, replay ledger intact). The advisor
    mutates nothing — the serve before/after it is pytest-locked; counts
    and the recommendation replay relationally in the oracle."""
    from semantic_index_spark.operators import hnsw as H

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < 240)
    epoch = emb.filter((F.col("vec_id") >= 240) & (F.col("vec_id") < 280))
    with _scratch("idx_advice_") as tmp:
        path = os.path.join(tmp, "hnsw")
        H.write_hnsw_index(
            H.build_hnsw(base, n_shards=4, m=8, ef_construction=32),
            path, n_shards=4, m=8, ef_construction=32,
        )
        H.append_hnsw_index(epoch, path, epoch_id=1)
        H.delete_from_hnsw_index(
            emb.filter((F.col("vec_id") < 280) & (F.col("vec_id") % 5 == 0))
            .select("vec_id"),
            path,
        )
        pre = H.hnsw_maintenance_status(spark, path)
        H.compact_hnsw_index(spark, path)
        post = H.hnsw_maintenance_status(spark, path)
        rows = [
            ("pre", pre["n_nodes"], pre["n_tombstones"],
             int(pre["recommend_compact"]), pre["n_applied_epochs"]),
            ("post", post["n_nodes"], post["n_tombstones"],
             int(post["recommend_compact"]), post["n_applied_epochs"]),
        ]
        out = spark.createDataFrame(
            rows,
            "stage string, n_nodes bigint, n_tombstones bigint, "
            "recommend_compact int, n_applied_epochs bigint",
        ).orderBy("stage").transform(pin, "index_maintenance_advice: out", "eager")
    return out


def q_media_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the multimodal pipeline (r12 —
    ``operators/multimodal.py`` ``decode_image``/``image_decoder``,
    VERDICT r11 #5): 40 deterministic binary PPM images (pixel(y,x,c) =
    (seed·31 + y·7 + x·13 + c·5) mod 256, 8×6×3) run through the
    Arrow-batched ``extract_features`` stage with the pure-numpy codec —
    feat_mean is the TRUE mean pixel intensity of the decoded raster,
    n_bytes the exact container size. The oracle never sees the bytes:
    it recomputes both from the closed-form pixel formula, so a decode
    that mis-parses the header, drops a channel, or mis-strides a row
    breaks the hash."""
    from semantic_index_spark.operators import multimodal as M

    rows = [
        (s, M.make_test_image(s, 8, 6, 3), "image/x-portable-pixmap", 8, 6)
        for s in range(40)
    ]
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    return (
        M.extract_features(media, decoder=M.image_decoder)
        .select("media_id", "n_bytes", "feat_mean")
        .orderBy("media_id")
    )


def q_sql_insert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``INSERT INTO`` through the SQL front door (r12 —
    ``sources/versioned_batch.py`` writer classes, VERDICT r11 #3):
    customers ≤ 250 seed an 8-bucket table, a deletion-vector DELETE
    removes every 9th key, then ONE pure-SQL ``INSERT INTO <view>
    SELECT ... FROM range(200, 320)`` upserts 120 keys — executor tasks
    bucket their rows with the vectorized Spark-bit-exact xxhash64
    (``buckets_np``), the commit worker merges the affected buckets in
    pyarrow (folding the outstanding DVs exactly like
    ``merge_into_bucketed``), and the publish rides
    ``versioned._commit_staged_bucketed`` — the IDENTICAL manifest-build
    + OCC path as every Spark-side verb. The read-back is pure SQL too
    (rebound post-insert: view READS pin the version at first resolution
    — snapshot isolation — while writes re-resolve latest at execution).
    The oracle replays seed → delete → upsert relationally."""
    from semantic_index_spark.sources import versioned as VER
    from semantic_index_spark.sources import versioned_batch as VB

    c = load_table(spark, sf_dir, "customer")
    base = c.filter(F.col("c_custkey") <= 250).select(
        F.col("c_custkey").alias("id"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    with _scratch("sql_insert_merge_") as tmp:
        try:
            t = os.path.join(tmp, "tbl")
            VER.create_bucketed(base, t, ["id"], n_buckets=8)
            VER.delete_bucketed(
                spark, t, base.filter(F.col("id") % 9 == 0).select("id")
            )
            VB.sql_view(spark, "sql_insert_merge_v", t)
            spark.sql(
                "INSERT INTO sql_insert_merge_v "
                "SELECT id, id * 31 % 9973 AS cents FROM range(200, 320)"
            )
            # reads through a USING view are pinned at first resolution
            # (snapshot isolation); REBIND to read the post-insert version
            VB.sql_view(spark, "sql_insert_merge_v", t)
            out = spark.sql(
                "SELECT id, cents FROM sql_insert_merge_v ORDER BY id"
            ).transform(pin, "sql_insert_merge: out", "eager")
        finally:
            spark.catalog.dropTempView("sql_insert_merge_v")
    return out


def q_sql_string_key_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRING-keyed (doc-id) SQL front door (r13 — the r12 verdict's #1
    missing item: ``versioned_batch.py`` grows a bit-exact XXH64 string
    lane, the masked-numpy ``_xxh64_bytes_np`` that both the writer's
    batch routing and the pushed-filter prune use, pytest-locked
    value-for-value against Spark's ``xxhash64(string)``).
    Documents ≤ 250 seed an 8-bucket table keyed on the string doc id, a
    deletion-vector DELETE removes every 7th key, then ONE pure-SQL
    ``INSERT INTO <view>`` upserts 120 string keys through the identical
    staged-commit + OCC publish as every Spark verb; the pushed
    ``IN (<string>, ...)`` read prunes to the keys' buckets. The oracle
    replays seed → delete → upsert relationally over the same derived
    string keys."""
    from semantic_index_spark.sources import versioned as VER
    from semantic_index_spark.sources import versioned_batch as VB

    d = load_table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") < 250).select(
        F.concat(
            F.lit("doc-"), F.lpad(F.col("doc_id").cast("string"), 8, "0")
        ).alias("k"),
        F.col("n_chars").alias("val"),
        F.col("doc_id").alias("num"),
    )
    with _scratch("sql_string_key_merge_") as tmp:
        try:
            t = os.path.join(tmp, "tbl")
            VER.create_bucketed(base.drop("num"), t, ["k"], n_buckets=8)
            VER.delete_bucketed(
                spark, t, base.filter(F.col("num") % 7 == 0).select("k")
            )
            VB.sql_view(spark, "sql_strkey_v", t)
            spark.sql(
                "INSERT INTO sql_strkey_v "
                "SELECT concat('doc-', lpad(cast(id AS string), 8, '0')) AS k, "
                "id * 37 % 7919 AS val FROM range(200, 320)"
            )
            # view reads pin at first resolution — rebind for the new version
            VB.sql_view(spark, "sql_strkey_v", t)
            out = spark.sql(
                "SELECT k, val FROM sql_strkey_v ORDER BY k"
            ).transform(pin, "sql_string_key_merge: out", "eager")
        finally:
            spark.catalog.dropTempView("sql_strkey_v")
    return out


def q_vacuum_advice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dry-run VACUUM advisor for the versioned store (r13 —
    ``sources/versioned.py`` ``vacuum_report``, VERDICT r12 #9: advisor
    symmetry with ``maintenance_status``/``hnsw_maintenance_status``/
    ``ivf_maintenance_status``). Documents < 150 seed a 4-bucket table;
    two FULL-rewrite merges advance every bucket's ownership (the first
    also inserts 20 new keys), so under ``keep_manifests=2`` version 0
    becomes fully unreferenced. The advisor reports kept [1, 2] /
    reclaimable [0] WITHOUT mutating anything; the row for each version
    carries its time-travel row count — a reclaimable version that lost
    files, a kept version wrongly listed, or a mutation by the "dry
    run" all break the hash. The oracle replays statuses and counts
    relationally."""
    from semantic_index_spark.sources import versioned as VER

    d = load_table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") < 150).select(
        F.col("doc_id").alias("id"), F.col("n_chars").alias("val")
    )
    with _scratch("vacuum_advice_") as tmp:
        t = os.path.join(tmp, "tbl")
        VER.create_bucketed(base, t, ["id"], n_buckets=4)
        VER.merge_into_bucketed(
            spark, t,
            base.select("id", (F.col("val") + 1).alias("val")).unionByName(
                base.filter(F.col("id") < 20).select(
                    (F.col("id") + 1000).alias("id"), "val"
                )
            ),
        )
        VER.merge_into_bucketed(
            spark, t,
            VER.read_bucketed(spark, t).select(
                "id", (F.col("val") + 1).alias("val")
            ),
        )
        rep = VER.vacuum_report(t, keep_manifests=2)
        rows = [
            ("kept", int(v), VER.read_bucketed(spark, t, version=v).count())
            for v in rep["kept"]
        ] + [
            ("reclaimable", int(v),
             VER.read_bucketed(spark, t, version=v).count())
            for v in rep["reclaimable"]
        ]
        assert rep["reclaimable_bytes"] > 0 and not rep["staged_orphans"]
        out = spark.createDataFrame(
            rows, "status string, version int, n_rows bigint"
        ).orderBy("status", "version").transform(pin, "vacuum_advice: out", "eager")
    return out


def q_sql_insert_indexed_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``INSERT INTO`` an INDEXED table (r13 — the r12 verdict's missing
    #2/task #4, ``sources/indexed_np.py``): the Spark-free commit worker
    rebuilds the co-committed IVF-SQ8 index's affected shards itself —
    numpy encoders that are bit-exact twins of the Spark expressions
    (sequential-fold dots for cell assignment, the identical clamped
    ``floor((v-lo)/step+0.5)`` quantizer), pytest-locked shard-file-
    identical to a Spark-side merge of the same upsert. Lifecycle:
    embeddings < 120 seed a 4-bucket table, attach IVF-SQ8, ONE pure-SQL
    ``INSERT INTO <view>`` upserts 12 vectors (4 updates rescale, 8 new
    ids), then the exhaustive-exact serve must equal brute force over
    the post-insert table — a stale or drifted shard breaks the hash."""
    from semantic_index_spark.sources import indexed as IDX
    from semantic_index_spark.sources import versioned as VER
    from semantic_index_spark.sources import versioned_batch as VB

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120)
    base = emb.select(F.col("vec_id").alias("id"), "embedding")
    q = emb.filter(F.col("vec_id") == 9).collect()[0]["embedding"]
    with _scratch("sql_ins_idx_") as tmp:
        try:
            t = os.path.join(tmp, "tbl")
            VER.create_bucketed(base, t, ["id"], n_buckets=4)
            IDX.attach_ivfsq_index(spark, t, n_cells=4)
            VB.sql_view(spark, "sql_ins_idx_v", t)
            spark.sql(
                "INSERT INTO sql_ins_idx_v "
                "SELECT id, transform(embedding, x -> cast(x * 0.5 AS float)) "
                "FROM sql_ins_idx_v WHERE id % 30 = 0 "
                "UNION ALL "
                "SELECT id + 5000 AS id, embedding "
                "FROM sql_ins_idx_v WHERE id < 8"
            )
            out = (
                IDX.indexed_ivfsq_topk(spark, t, q, k=KNN_K, nprobe=4,
                                       candidates=600)
                .orderBy(F.desc("score"), "vec_id")
                .transform(pin, "sql_insert_indexed_table: out", "eager")
            )
        finally:
            spark.catalog.dropTempView("sql_ins_idx_v")
    return out


def q_sql_hidden_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden-partition + zone-map pruning through the SQL front door
    (r12 — ``sources/versioned_batch.py``, VERDICT r11 #1): the SAME
    composed day(ts)-partitioned / value-clustered events table as
    ``hidden_skipping_compose``, but queried as pure SQL TEXT against a
    ``sql_view`` binding — ``pushFilters`` translates the WHERE clause
    into the triple dialect and plans only the surviving day directories
    (transform rewrite, UTC instants converted through the table's
    pinned zone) and, inside them, only the candidate files from the
    version's [min,max] manifest. Pruning is IO-only (all filters
    re-apply post-scan; pytest asserts SQL-path file selection ==
    ``candidate_files_hidden``), so the oracle is the identical
    predicates on the raw parquet table."""
    from semantic_index_spark.sources import versioned_batch as VB

    tbl = _hidden_skip_events_table(spark, sf_dir)
    VB.sql_view(spark, "sql_hidden_prune_v", tbl)
    try:
        out = spark.sql(
            f"""
            SELECT date_format(ts, 'yyyy-MM-dd') AS day,
                   event_type,
                   count(*) AS n_events,
                   sum(CAST(round(value * 100) AS BIGINT)) AS value_cents
            FROM sql_hidden_prune_v
            WHERE ts >= timestamp'{HSK_TS_LO} 00:00:00'
              AND ts < timestamp'{HSK_TS_HI} 00:00:00'
              AND value >= {HSK_VAL_LO} AND value < {HSK_VAL_HI}
            GROUP BY day, event_type
            ORDER BY day, event_type
            """
        ).transform(pin, "sql_hidden_prune: out", "eager")
    finally:
        spark.catalog.dropTempView("sql_hidden_prune_v")
    return out


# --- r8 similarity additions: SQ8 two-stage serving, filtered IVF, ColBERT ---

SQ_QID = 7
SQ_CANDIDATES = 50

# Session-cached frozen SQ8 quantizer (per-dim lo/step), same train-once
# contract as shared_pq_artifacts: training is a rare offline event, every
# query serves against the frozen model.
def _sq_model(spark: SparkSession, sf_dir: str) -> dict:
    return _session_memo(
        spark, sf_dir, "sq_model", lambda: S.sq_train(load_table(spark, sf_dir, "embeddings"))
    )


def q_sq_rescore_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage int8 scalar-quantized retrieval (r8 —
    operators/similarity.py ``sq_train/sq_encode/sq_topk_rescore``, the
    FAISS-SQ8 production pattern): stage 1 scans only the 1-byte-per-dim
    codes with an asymmetric fold (4x less IO than the float corpus) into
    a bounded top-50 candidate set; stage 2 broadcasts the candidate ids
    back onto the float vectors and rescores EXACTLY. Clamped half-up
    quantization is written as the identical double expression on both
    engines, so the oracle replays train→encode→ADC→rescore bit-for-bit
    in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    model = _sq_model(spark, sf_dir)
    codes = S.sq_encode(emb, model)
    q = emb.filter(F.col("vec_id") == SQ_QID).select("embedding").collect()[0][0]
    return S.sq_topk_rescore(
        codes, emb, model, [float(x) for x in q],
        k=KNN_K, candidates=SQ_CANDIDATES,
    )


FILT_LABEL = 3

# Session-cached on-disk IVF-flat index layout (cell-partitioned parquet),
# payload columns included — the serving artifact for filtered search.
def _ivf_index_table(spark: SparkSession, sf_dir: str) -> str:
    def write() -> str:
        tbl = os.path.join(_session_root("ivf_flat_idx"), "embeddings_ivf")
        S.write_ivf_index(load_table(spark, sf_dir, "embeddings"), CENTROIDS, tbl)
        return tbl

    return _session_memo(spark, sf_dir, "ivf_flat_idx", write)


def q_filtered_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED vector search (r8 — similarity.py
    ``ivf_topk_filtered``): the "WHERE label = 3 AND vector near q" query
    every vector store serves, over the materialized ``_cell=``-partitioned
    IVF layout. The cell probe prunes DIRECTORIES at planning time
    (PartitionFilters) and the label predicate pushes into the parquet
    scan (PushedFilters) — the scan touches only probed-cell files and
    only matching row groups. Exact within the probed cells (same
    approximation contract as ivf_topk), so the oracle replays the probe +
    filter + scoring in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    tbl = _ivf_index_table(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return S.ivf_topk_filtered(
        spark, tbl, [float(x) for x in q], CENTROIDS,
        f"label = {FILT_LABEL}", k=KNN_K, nprobe=IVF_NPROBE,
    )


COLBERT_DOCTOKENS = 8
COLBERT_QTOKENS = 4


def q_colbert_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction retrieval (r8 — similarity.py
    ``late_interaction_topk``): documents are MULTI-vector — here every 8
    consecutive embeddings form one doc's token vectors — and score(d) =
    sum over the 4 query tokens of the MAX dot against any token of d
    (MaxSim). The |Q|-row query side broadcasts against one token-corpus
    scan; (doc, qtok) max and per-doc sum are partial-aggs, so no shuffle
    carries more than one row per (doc, qtok). Scores are fixed-point
    micro-integers (floor(dot*1e6+0.5)) — max/sum over bigints are exact,
    making the hash engine-independent."""
    emb = load_table(spark, sf_dir, "embeddings")
    toks = emb.select(
        F.expr(f"CAST(vec_id DIV {COLBERT_DOCTOKENS} AS BIGINT)").alias("doc_id"),
        "embedding",
    )
    qrows = (
        emb.filter(F.col("vec_id") < COLBERT_QTOKENS)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    qvecs = [[float(x) for x in r["embedding"]] for r in qrows]
    return S.late_interaction_topk(toks, qvecs, k=KNN_K)


ZSK_U_LO, ZSK_U_HI = 10, 100
ZSK_V_LO, ZSK_V_HI = 100.0, 250.0

# Session-cached Z-order-clustered zone-map copy of `events`: the Morton
# key over (user_id, value) makes the per-file stats selective in BOTH
# dimensions at once (Delta/Iceberg OPTIMIZE ZORDER BY).
def _zorder_events_table(spark: SparkSession, sf_dir: str) -> str:
    from semantic_index_spark.sources import skipping as Z
    from semantic_index_spark.sources.io import zorder_key

    def write() -> str:
        tbl = os.path.join(_session_root("zorder_events"), "events_zorder")
        ev = load_table(spark, sf_dir, "events")
        # key domains from one tiny agg so the 8-bit cells stay selective at
        # every SF (out-of-domain values would clamp to edge cells)
        b = ev.agg(
            F.min("user_id"), F.max("user_id"), F.min("value"), F.max("value")
        ).first()
        zk = zorder_key(
            [("user_id", float(b[0]), float(b[1]) + 1.0),
             ("value", float(b[2]), float(b[3]) + 1.0)],
            bits=8,
        )
        Z.write_skipping(ev, tbl, ["user_id", "value"], n_files=32, cluster_by=zk)
        return tbl

    return _session_memo(spark, sf_dir, "zorder_events", write)


def q_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order-clustered multi-dimensional file skipping (r8 —
    ``io.zorder_key`` as ``write_skipping``'s cluster expression, the
    Delta/Iceberg OPTIMIZE ZORDER BY story): events range-cluster on the
    Morton interleave of (user_id, value), so each file's zone map is a
    tight box in BOTH dimensions and a 2-D box predicate prunes files on
    each column independently — where 1-D clustering leaves every
    non-clustered column's per-file range spanning the domain (pytest
    asserts exactly that contrast). Pruning is IO-only (residuals always
    reapply), so the oracle is the box predicate verbatim on raw
    events."""
    from semantic_index_spark.sources import skipping as Z

    tbl = _zorder_events_table(spark, sf_dir)
    got = Z.read_skipping(
        spark,
        tbl,
        [
            ("user_id", ">=", ZSK_U_LO),
            ("user_id", "<", ZSK_U_HI),
            ("value", ">=", ZSK_V_LO),
            ("value", "<", ZSK_V_HI),
        ],
    )
    return got.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
    )


E2E_DECONTAM_N = 8  # long shingles: the GPT-3/Lee-style decontam n-gram


def q_training_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE training-data pipeline as one verifiable composition (r8):
    raw docs split into train/benchmark (doc_id % 10), then the train side
    runs quality gate (Gopher rules conjunction) → exact dedup (normalized
    md5 fingerprint, min-id winner) → DECONTAMINATION (drop any train doc
    sharing an 8-gram shingle hash with the benchmark — long shingles, the
    GPT-3/Lee-style decontam key; the anti-join twin of
    contamination_check's audit) → sequence packing into 512-token
    training rows. One summary row carries each stage's survivor count,
    the packed-token totals, and a checksum over every (doc, seq, offset)
    assignment — so the driver hash locks the ENTIRE composition, not one
    operator. Every stage reuses a driver-verified operator
    (gopher_rules / exact_dedup / shingle-hash join / pack_sequences);
    each is a hash equi-join or map-only stage — nothing here changes
    shape at 100 TB."""
    from semantic_index_spark.operators import pipeline as P

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    bench = docs.filter(F.col("doc_id") % 10 == 0)

    # min_stop_hits=1: the synthetic vocabulary carries few English
    # stopwords (corpus-appropriate thresholds are the Gopher paper's own
    # guidance); every other rule keeps its default
    passed = TA.gopher_rules(
        train, min_words=GOPHER_MIN_WORDS, min_stop_hits=1
    ).filter("pass_gopher").select("doc_id")
    # each stage feeds MULTIPLE consumers (the next stage + its own
    # summary count), so pin the lineage once per stage — the
    # recomputed-lineage class that cost pagerank/triangle_count 2-3x
    quality = pin(train.join(passed, "doc_id", "left_semi"), "e2e: quality", "eager")

    winners = D.exact_dedup(quality).select("doc_id")
    deduped = pin(quality.join(winners, "doc_id", "left_semi"), "e2e: deduped", "eager")

    bench_h = (
        bench.select(F.explode(T.shingles("text", E2E_DECONTAM_N)).alias("_sh"))
        .select(T.md5_bigint("_sh").alias("_h"))
        .distinct()
    )
    contaminated = (
        deduped.select(
            "doc_id", F.explode(T.shingles("text", E2E_DECONTAM_N)).alias("_sh")
        )
        .select("doc_id", T.md5_bigint("_sh").alias("_h"))
        .join(bench_h, "_h", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = pin(deduped.join(contaminated, "doc_id", "left_anti"), "e2e: clean", "eager")

    packed = P.pack_sequences(clean, budget=PACK_BUDGET)

    def _cnt(df, name):
        return df.agg(F.count("*").cast("bigint").alias(name))

    # tok_clean rides the SAME aggregate as the packing summary (r14,
    # guide §1.2): pack_sequences already computed n_tokens =
    # size(tokens(text)) per clean doc, so summing its column is
    # value-identical to re-tokenizing `clean` — one full tokenization
    # pass over the clean corpus removed, one aggregate branch fewer.
    pk = packed.agg(
        F.sum("n_tokens").cast("bigint").alias("tok_clean"),
        F.count_distinct("seq_id").cast("bigint").alias("n_seqs"),
        F.sum(F.col("spans_boundary").cast("bigint")).alias("n_spanning"),
        F.sum(
            F.col("doc_id") * (F.col("seq_id") + 1) + F.col("offset_in_seq")
        ).cast("bigint").alias("pack_checksum"),
    )
    return (
        _cnt(train, "n_train")
        .crossJoin(_cnt(quality, "n_quality"))
        .crossJoin(_cnt(deduped, "n_dedup"))
        .crossJoin(_cnt(clean, "n_clean"))
        .crossJoin(pk)
        .select(
            "n_train", "n_quality", "n_dedup", "n_clean",
            "tok_clean", "n_seqs", "n_spanning", "pack_checksum",
        )
    )


PPR_SEEDS = ["c1", "c2", "c3"]


def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (r8 — graph.py ``personalized_pagerank``,
    Haveliwala 2002): the same symmetrized customer–part graph as the
    pagerank row, but teleport concentrated on three customer seeds —
    rank becomes proximity TO the seed set, the standard related-items /
    trust-propagation scorer. Dangling mass re-teleports proportionally
    to the seed distribution (the personalized twin of pagerank's uniform
    spread; Σrank = 1, pytest). Fixed 2 iterations keep the recurrence
    oracle-unrollable — the oracle is the pagerank CTE chain with the
    uniform 1/N teleport replaced by the seed indicator at every
    occurrence."""
    from semantic_index_spark.operators import graph as G

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
    )
    edges = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    ppr = G.personalized_pagerank(
        edges, PPR_SEEDS, iterations=PR_ITERS, damping=PR_DAMP
    )
    return ppr.select("node", F.round("rank", 6).alias("ppr_rank"))


# Session-cached on-disk IVF-SQ8 layout: cell-partitioned byte codes only.
def _ivfsq_index_table(spark: SparkSession, sf_dir: str) -> str:
    def write() -> str:
        tbl = os.path.join(_session_root("ivfsq_idx"), "embeddings_ivfsq")
        S.write_ivfsq_index(
            load_table(spark, sf_dir, "embeddings"), CENTROIDS,
            _sq_model(spark, sf_dir), tbl,
        )
        return tbl

    return _session_memo(spark, sf_dir, "ivfsq_idx", write)


def q_ivfsq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8 composed serving (r8 — similarity.py ``write_ivfsq_index``/
    ``ivfsq_topk_indexed``, FAISS's ``IVF,SQ8``): the materialized layout
    holds only (id, int8 codes) cell-partitioned, so a probe pays
    planning-time cell pruning (PartitionFilters) TIMES the 4x byte cut
    of the asymmetric code scan, then broadcasts the bounded candidate
    set back onto the float table for the exact rescore. The oracle
    composes the ivf probe CTE with the SQ train→encode→ADC→rescore
    chain restricted to the probed cells."""
    emb = load_table(spark, sf_dir, "embeddings")
    model = _sq_model(spark, sf_dir)
    tbl = _ivfsq_index_table(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return S.ivfsq_topk_indexed(
        spark, tbl, emb, model, [float(x) for x in q], CENTROIDS,
        k=KNN_K, nprobe=IVF_NPROBE, candidates=SQ_CANDIDATES,
    )


def q_ivfsq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF-SQ8 index maintenance riding the stream, end-to-end
    (r9 — similarity.write_ivfsq_index/append_ivfsq_index +
    streaming/ingest.incremental_ivfsq_sink, completing the maintenance
    symmetry with ivfpq_incremental across the two compressed served
    layouts): train the frozen quantizer offline (deterministic
    full-corpus sq_train), build the base ``_cell=``-partitioned byte-code
    layout from two thirds of the corpus, stream the remaining third as 2
    micro-batches through the sink (each epoch SQ8-encodes against the
    frozen model and lands as its own batch_id partitions — exactly-once
    via dynamic partition overwrite), then serve the SAME query
    q_ivfsq_topk answers ad hoc. Cell assignment and encoding are pure
    functions of (embedding, frozen artifacts), so the served top-k must
    be row-identical to the ad-hoc path — the oracle is ivfsq_topk's
    composed probe+SQ replay verbatim."""
    from semantic_index_spark.streaming import ingest as SI

    emb = load_table(spark, sf_dir, "embeddings")
    model = _sq_model(spark, sf_dir)
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    ]
    base = emb.filter(F.col("vec_id") % 3 != 2).select("vec_id", "embedding")
    src = os.path.join(
        _replay_sources(
            spark,
            sf_dir,
            "ivfsq",
            [
                (
                    f"src/batch{b}.parquet",
                    emb.filter(
                        (F.col("vec_id") % 3 == 2) & (F.col("vec_id") % 2 == b)
                    ).select("vec_id", "embedding"),
                )
                for b in range(2)
            ],
        ),
        "src",
    )
    with _scratch("ivfsq_inc_") as tmp:
        idx = os.path.join(tmp, "index")
        S.write_ivfsq_index(base, CENTROIDS, model, idx)
        stream = _file_stream(spark, "vec_id bigint, embedding array<float>", src)
        sink = SI.incremental_ivfsq_sink(idx, CENTROIDS, model)
        with _stream_shuffle_partitions(spark):
            SI.run_batch_like(
                stream.writeStream.foreachBatch(sink)
                .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            )
        final = S.ivfsq_topk_indexed(
            spark, idx, emb, model, qv, CENTROIDS,
            k=KNN_K, nprobe=IVF_NPROBE, candidates=SQ_CANDIDATES,
        ).transform(pin, "ivfsq_incremental: final", "eager")
    return final


def q_ivf_consolidate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch consolidation for the batch_id-partitioned served layouts
    (r12 — ``similarity.consolidate_ivf_epochs`` /
    ``ivf_maintenance_status`` / ``recover_ivf_layout``, the IVF twin of
    ``compact_hnsw_index``): build EXACTLY ivfsq_incremental's final
    content — base (two thirds) + the remaining third as 2 direct epoch
    appends — then FOLD the epochs into the base partition, REPLAY a
    folded epoch (the ledger skips it: the dynamic-overwrite partition
    it would idempotently replace no longer exists), and serve the same
    query with the same params. Consolidation is a pure layout rewrite,
    so the oracle IS ivfsq_incremental's composed probe+SQ replay,
    shared verbatim — a dropped row, a duplicate from the replayed
    epoch, or a re-encode drift breaks the identical hash."""
    emb = load_table(spark, sf_dir, "embeddings")
    model = _sq_model(spark, sf_dir)
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    ]
    base = emb.filter(F.col("vec_id") % 3 != 2).select("vec_id", "embedding")
    with _scratch("ivf_consolidate_") as tmp:
        idx = os.path.join(tmp, "index")
        S.write_ivfsq_index(base, CENTROIDS, model, idx)
        for b in range(2):
            S.append_ivfsq_index(
                emb.filter(
                    (F.col("vec_id") % 3 == 2) & (F.col("vec_id") % 2 == b)
                ).select("vec_id", "embedding"),
                CENTROIDS, model, idx, batch_id=b,
            )
        assert S.ivf_maintenance_status(idx, epoch_threshold=2)[
            "recommend_consolidate"
        ]
        S.consolidate_ivf_epochs(spark, idx)
        # exactly-once survives the fold: the replayed epoch is skipped
        S.append_ivfsq_index(
            emb.filter(
                (F.col("vec_id") % 3 == 2) & (F.col("vec_id") % 2 == 1)
            ).select("vec_id", "embedding"),
            CENTROIDS, model, idx, batch_id=1,
        )
        final = S.ivfsq_topk_indexed(
            spark, idx, emb, model, qv, CENTROIDS,
            k=KNN_K, nprobe=IVF_NPROBE, candidates=SQ_CANDIDATES,
        ).transform(pin, "ivf_consolidate: final", "eager")
    return final


WALK_LEN, WALK_MOD = 4, 17


def q_graph_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random-walk corpus generation (r9 —
    operators/graph.py deterministic_walks, the DeepWalk graph→sequence
    bridge): one walk per start vertex (every WALK_MOD-th co-purchase
    node), WALK_LEN steps, each step choosing the out-neighbor with the
    smallest md5(seed:walk:step:here:cand) — hash-randomness instead of a
    PRNG, so the emitted (walk_id, step, node) training sentences are a
    pure function of (graph, starts, seed). Per step: ONE frontier×edges
    hash equi-join + per-walk min_by, frontier localCheckpointed. The
    oracle unrolls the WALK_LEN argmin rounds as MATERIALIZED CTEs with
    the identical md5 total order, so every chosen neighbor hash-matches
    cross-engine."""
    from semantic_index_spark.operators import graph as G

    e = _copurchase_edges(spark, sf_dir)
    verts = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    starts = verts.filter(F.col("node") % WALK_MOD == 0)
    return G.deterministic_walks(e, starts=starts, length=WALK_LEN)


KC_K = 80  # nontrivial core with a multi-round cascade at both SFs
KC_ITERS = 6  # fixpoint is 5 rounds at sf0.01 AND sf0.1; 6 = margin


def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition end-to-end (r8 — operators/graph.py
    ``k_core``): peel the co-purchase graph to its 80-core — every
    surviving part co-occurs with ≥80 other SURVIVING parts, the standard
    density filter hub-and-leaf graphs get before community detection.
    k=80 exercises the cascade (nodes above the threshold die because
    their neighbors died: 5 peeling rounds to fixpoint at both SFs, vs
    the one-round prune a naive degree filter does); fixed KC_ITERS=6
    keeps the recurrence oracle-unrollable (the pagerank contract) with
    one spare round proving the fixpoint to the unrolled CTE chain."""
    from semantic_index_spark.operators import graph as G

    return G.k_core(
        _copurchase_edges(spark, sf_dir), KC_K, iters=KC_ITERS,
        assume_canonical=True,
    )


def _duck_k_core_sql(k: int, iters: int) -> str:
    """Unrolled peeling oracle: e0 = the canonical co-purchase edge list,
    then per round n_i = vertices with degree >= k in e_{i-1} and e_i =
    edges with both endpoints in n_i — the literal Seidman recurrence."""
    # AS MATERIALIZED: DuckDB inlines plain CTEs, so each e_i reference
    # would re-expand the whole chain below it — exponential scans of the
    # base table ("too many open files" long before wrong answers).
    # Materializing pins each round to run once, like the Spark
    # localCheckpoint per round.
    parts = [
        """e0 AS MATERIALIZED (
                SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            )"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""n{i} AS MATERIALIZED (
                SELECT n FROM (SELECT a AS n FROM e{i - 1}
                               UNION ALL SELECT b AS n FROM e{i - 1})
                GROUP BY n HAVING count(*) >= {k}
            )"""
        )
        parts.append(
            f"""e{i} AS MATERIALIZED (
                SELECT e.a, e.b FROM e{i - 1} e
                JOIN n{i} x ON e.a = x.n JOIN n{i} y ON e.b = y.n
            )"""
        )
    return (
        "WITH " + ", ".join(parts)
        + f"""
            SELECT node, count(*)::BIGINT AS degree
            FROM (SELECT a AS node FROM e{iters}
                  UNION ALL SELECT b AS node FROM e{iters})
            GROUP BY node"""
    )


# The FIRST 50 queries() entries are hash-checked each round and the
# results land in CORRECTNESS_r{N}.json beside this file, so the leading
# window is a verification contract computed from that history.
_DRIVER_WINDOW = 50


def _driver_window(names: list[str], history_dir: str) -> list[str]:
    """The next verification window over ``names`` (canonical order), from the
    ``CORRECTNESS_r*.json`` files in ``history_dir``: names never checked
    first, then names whose latest row failed (rows, schema or hash
    mismatch, or an error), then the names whose latest row is oldest.
    Ties go by the order of ``names``."""
    import glob
    import json
    import re

    latest: dict[str, int] = {}
    failed: set[str] = set()
    for path in glob.glob(os.path.join(history_dir, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        with open(path) as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            if rnd < latest.get(name, 0):
                continue
            latest[name] = rnd
            ok = isinstance(row, dict) and all(
                row.get(k) for k in ("rows_match", "schema_match", "hash_match")
            ) and not row.get("err")
            (failed.discard if ok else failed.add)(name)
    order = {n: i for i, n in enumerate(names)}

    def key(n: str) -> tuple[int, int, int]:
        if n not in latest:
            return (0, 0, order[n])
        return (1, 0, order[n]) if n in failed else (2, latest[n], order[n])

    return sorted(names, key=key)[:_DRIVER_WINDOW]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order is a verification contract: the driver hash-checks the
    FIRST 50 entries each round.  The canonical dict below stays in stable
    historical order; the returned dict leads with ``_driver_window`` over
    that order and the ``CORRECTNESS_r*.json`` history beside this file,
    followed by every other query in canonical order.  The window rotates by
    itself when a round's results land: never-checked queries first, then
    failed re-checks, then the stalest green rows, which keeps every
    CORRECTNESS row at most ~6 rounds stale (316 queries / 50 per round).  A new query
    only needs appending to the canonical dict; it leads the next window as
    never-checked.

    EVERY query has a hash oracle; all 316 are verified at both sf0.01 and
    sf0.1 by tools/check_oracles.py."""
    reg = {
        # --- canonical order; the r7 window cohort (23 r5-overflow + first 27 r6 additions) ---
        "q15_top_supplier": q15_top_supplier,
        "q17_small_quantity_revenue": q17_small_quantity_revenue,
        "q18_large_volume_customers": q18_large_volume_customers,
        "q19_disjunctive_revenue": q19_disjunctive_revenue,
        "q22_global_sales_opportunity": q22_global_sales_opportunity,
        "q2_min_cost_supplier": q2_min_cost_supplier,
        "q4_order_priority": q4_order_priority,
        "q9_product_profit": q9_product_profit,
        "q11_important_stock": q11_important_stock,
        "q16_supplier_counts": q16_supplier_counts,
        "q20_promotion_candidates": q20_promotion_candidates,
        "q21_waiting_suppliers": q21_waiting_suppliers,
        "cdc_apply": R.cdc_apply,
        "skyline_frontier": R.skyline_frontier,
        "stream_static_enrich_replay": q_stream_static_enrich_replay,
        "stream_session_replay": q_stream_session_replay,
        "orc_roundtrip": q_orc_roundtrip,
        "naive_bayes_lang": q_naive_bayes_lang,
        "quantile_normalize": q_quantile_normalize,
        "throttle_dedup": q_throttle_dedup,
        "holt_winters": q_holt_winters,
        "ivf_silhouette": q_ivf_silhouette,
        "trimmed_mean_udaf": q_trimmed_mean_udaf,
        "merge_versioned": q_merge_versioned,
        "label_propagation": q_label_propagation,
        "ols_closed_form": q_ols_closed_form,
        "position_attribution": q_position_attribution,
        "audience_overlap": q_audience_overlap,
        "shortest_paths": q_shortest_paths,
        "table_changes": q_table_changes,
        "stream_merge_replay": q_stream_merge_replay,
        "stream_indexed_merge": q_stream_indexed_merge,
        "modularity": q_modularity,
        "range_join_bucketed": q_range_join_bucketed,
        "ngram_jaccard_maxdf": q_ngram_jaccard_maxdf,
        "stream_hll_replay": q_stream_hll_replay,
        "index_compact_demo": q_index_compact_demo,
        "jsonl_quarantine": q_jsonl_quarantine,
        "schema_evolution": q_schema_evolution,
        "adamic_adar": q_adamic_adar,
        "activity_streaks": q_activity_streaks,
        "autocorrelation": q_autocorrelation,
        "stratified_ate": q_stratified_ate,
        "best_split": q_best_split,
        "phrase_search": q_phrase_search,
        "resample_locf": q_resample_locf,
        "geo_neighbors": q_geo_neighbors,
        "golden_records": q_golden_records,
        "dp_topk": q_dp_topk,
        "kmv_distinct": q_kmv_distinct,
        "kmv_overlap": q_kmv_overlap,
        # --- r6 overflow + the fourteen NEW-in-r7 queries (never driver-checked before r8; r8 window cohort) ---
        "sequence_support": q_sequence_support,
        "pq_topk": q_pq_topk,
        "ivfpq_topk": q_ivfpq_topk,
        "mutual_nn": q_mutual_nn,
        "ivfpq_incremental": q_ivfpq_incremental,
        "hidden_partition_prune": q_hidden_partition_prune,
        "motif_triangles": q_motif_triangles,
        "motif_open_wedges": q_motif_open_wedges,
        "motif_capped_wedges": q_motif_capped_wedges,
        "hidden_skipping_compose": q_hidden_skipping_compose,
        "sql_hidden_prune": q_sql_hidden_prune,
        "sql_insert_merge": q_sql_insert_merge,
        "sql_string_key_merge": q_sql_string_key_merge,
        "sql_insert_indexed_table": q_sql_insert_indexed_table,
        "vacuum_advice": q_vacuum_advice,
        "indexed_table_ivfsq": q_indexed_table_ivfsq,
        "string_key_indexed_table": q_string_key_indexed_table,
        "media_decode_features": q_media_decode_features,
        "index_maintenance_advice": q_index_maintenance_advice,
        "multi_index_table": q_multi_index_table,
        "ivf_consolidate": q_ivf_consolidate,
        "sq_rescore_topk": q_sq_rescore_topk,
        "filtered_ivf_topk": q_filtered_ivf_topk,
        "colbert_maxsim": q_colbert_maxsim,
        "zorder_skipping": q_zorder_skipping,
        "training_pipeline_e2e": q_training_pipeline_e2e,
        "k_core": q_k_core,
        "ivfsq_topk": q_ivfsq_topk,
        "personalized_pagerank": q_personalized_pagerank,
        # --- NEW in round 9 ---
        "ivfsq_incremental": q_ivfsq_incremental,
        "graph_walks": q_graph_walks,
        "zonemap_skipping": q_zonemap_skipping,
        "ivm_agg": q_ivm_agg,
        "sampled_quantiles": q_sampled_quantiles,
        "bloom_skipping": q_bloom_skipping,
        "delete_vectors": q_delete_vectors,
        "optimize_demo": q_optimize_demo,
        "mrl_topk": q_mrl_topk,
        "append_skipping": q_append_skipping,
        "mg_heavy_hitters": q_mg_heavy_hitters,
        "grouped_sample_quantiles": q_grouped_sample_quantiles,
        # --- remainder: hard driver CORRECTNESS rows from rounds 1-6 (zero standing failures) ---
        "stateful_totals_replay": q_stateful_totals_replay,
        "segment_dedup": q_segment_dedup,
        "rrf_fusion": q_rrf_fusion,
        "zipf_fit": q_zipf_fit,
        "filtered_knn": q_filtered_knn,
        "hybrid_search": q_hybrid_search,
        "observed_metrics": q_observed_metrics,
        "stream_dedup_replay": q_stream_dedup_replay,
        "stream_join_replay": q_stream_join_replay,
        "khop_frontier": q_khop_frontier,
        "window_distinct_users": q_window_distinct_users,
        "quality_calibration": q_quality_calibration,
        "media_shared_frames": q_media_shared_frames,
        "cusum_alerts": q_cusum_alerts,
        "pit_join": q_pit_join,
        "ab_mann_whitney": q_ab_mann_whitney,
        "dedup_rate_by_source": q_dedup_rate_by_source,
        "wow_growth": q_wow_growth,
        "leakage_safe_split": q_leakage_safe_split,
        "dsir_weights": q_dsir_weights,
        "source_similarity": q_source_similarity,
        "training_order": q_training_order,
        "corpus_checksum": q_corpus_checksum,
        "quality_model": q_quality_model,
        "l_diversity": q_l_diversity,
        "attribution": q_attribution,
        "fk_integrity": q_fk_integrity,
        "model_calibration": q_model_calibration,
        "event_transitions": q_event_transitions,
        "time_to_conversion": q_time_to_conversion,
        "stratified_split": q_stratified_split,
        "vocab_drift": q_vocab_drift,
        "lsh_dedup_quality": q_lsh_dedup_quality,
        "vocab_growth": q_vocab_growth,
        "churn_labels": q_churn_labels,
        "temperature_mix": q_temperature_mix,
        "user_burstiness": q_user_burstiness,
        "cross_source_dup": q_cross_source_dup,
        "rolling_active_users": q_rolling_active_users,
        "growth_accounting": q_growth_accounting,
        "source_embedding_sim": q_source_embedding_sim,
        "pareto_curve": q_pareto_curve,
        "rfm_segments": q_rfm_segments,
        "cohort_ltv": q_cohort_ltv,
        "cuped_adjustment": q_cuped_adjustment,
        "dup_degree": q_dup_degree,
        "q8_market_share": q8_market_share,
        "q6_forecast_revenue": q6_forecast_revenue,
        "q13_customer_distribution": q13_customer_distribution,
        "q14_promo_effect": q14_promo_effect,
        "label_centroids": q_label_centroids,
        "text_stats": q_text_stats,
        "media_stats": q_media_stats,
        "winnowing_fingerprints": q_winnowing_fingerprints,
        "zorder_key": q_zorder_key,
        "heavy_hitters_by": q_heavy_hitters_by,
        "budget_select": q_budget_select,
        "hll_set_ops": q_hll_set_ops,
        "bloom_join": q_bloom_join,
        "pagerank": q_pagerank,
        "decayed_engagement": q_decayed_engagement,
        "seasonal_anomaly": q_seasonal_anomaly,
        "term_label_pmi": q_term_label_pmi,
        "jaccard_prefix": q_jaccard_prefix,
        "cosine_pairs": q_cosine_pairs,
        "weighted_sample": q_weighted_sample,
        "triangle_count": q_triangle_count,
        "association_lift": q_association_lift,
        "blocked_linkage": q_blocked_linkage,
        "variant_json": R.variant_json,
        "lateral_topn": R.lateral_topn,
        "calendar_spine": R.calendar_spine,
        "lsh_recall": q_lsh_recall,
        "kmeans_centroids": q_kmeans_centroids,
        "kcenter_coreset": q_kcenter_coreset,
        "mmr_rerank": q_mmr_rerank,
        "simhash_pairs": q_simhash_pairs,
        "rp_project": q_rp_project,
        "group_regression": R.group_regression,
        "token_entropy": R.token_entropy,
        "k_anonymity": q_k_anonymity,
        "dp_noisy_counts": q_dp_noisy_counts,
        "q7_volume_shipping": R.q7_volume_shipping,
        "q10_returned_items": R.q10_returned_items,
        "q12_late_shipping": R.q12_late_shipping,
        "session_paths": R.session_paths,
        "feature_hashing": q_feature_hashing,
        "neg_sampling_weights": q_neg_sampling_weights,
        "cooccurrence_pmi": q_cooccurrence_pmi,
        "survival_curve": q_survival_curve,
        "logreg_gd": q_logreg_gd,
        "map_functions": R.map_functions,
        "bootstrap_ci": q_bootstrap_ci,
        "chi_square_mix": q_chi_square_mix,
        "benford_audit": q_benford_audit,
        "winsorized_stats": q_winsorized_stats,
        "ab_test_zscore": q_ab_test_zscore,
        "source_concentration": q_source_concentration,
        "corpus_prep_pipeline": q_corpus_prep_pipeline,
        "streaming_upsert_replay": q_streaming_upsert_replay,
        "versioned_feed": q_versioned_feed,
        "incremental_dedup": q_incremental_dedup,
        "edit_distance_verify": q_edit_distance_verify,
        "dedup_components": q_dedup_components,
        "similarity_join": q_similarity_join,
        "lsh_topk": q_lsh_topk,
        "ivf_topk": q_ivf_topk,
        "quantized_knn": q_quantized_knn,
        "tfidf_top_terms": q_tfidf_top_terms,
        "heavy_hitters": q_heavy_hitters,
        "salted_join_agg": q_salted_join_agg,
        "gopher_rules": q_gopher_rules,
        "ngram_lm_score": q_ngram_lm_score,
        "bm25_topk": q_bm25_topk,
        "bpe_pair_counts": q_bpe_pair_counts,
        "contamination_check": q_contamination_check,
        "pack_sequences": q_pack_sequences,
        "repetition_pii": q_repetition_pii,
        "chunk_documents": q_chunk_documents,
        "udtf_token_positions": q_udtf_token_positions,
        "text_signals": q_text_signals,
        "media_frames": q_media_frames,
        "scd2_user_status": q_scd2_user_status,
        "embed_cache_hits": q_embed_cache_hits,
        "data_expectations": q_data_expectations,
        "weighted_mix": q_weighted_mix,
        "media_pooled": q_media_pooled,
        "funnel_conversion": q_funnel_conversion,
        "retention_cohorts": q_retention_cohorts,
        "snapshot_diff": q_snapshot_diff,
        "session_window_agg": R.session_window_agg,
        "lsh_multiprobe": q_lsh_multiprobe,
        "rerank_quantized": q_rerank_quantized,
        "hll_by_group": q_hll_by_group,
        "cms_freq": q_cms_freq,
        "source_cap": q_source_cap,
        "skew_profile": q_skew_profile,
        "semdedup": q_semdedup,
        "rollup_merge": q_rollup_merge,
        "duplicate_spans": q_duplicate_spans,
        "cms_join_size": q_cms_join_size,
        "histogram_quantiles_by": q_histogram_quantiles_by,
        "bloom_screen": q_bloom_screen,
        "quality_filter": q_quality_filter,
        "containment_pairs": q_containment_pairs,
        "psi_drift": q_psi_drift,
        "mad_outliers": q_mad_outliers,
        "profile_docs": q_profile_docs,
        "embedding_covariance": q_embedding_covariance,
        "interval_overlap": q_interval_overlap,
        "knn_topk": q_knn_topk,
        "knn_cosine": q_knn_cosine,
        "count_records": q_count_records,
        "q1_pricing_summary": R.q1_pricing_summary,
        "q3_shipping_priority": R.q3_shipping_priority,
        "filter_predicates": R.filter_predicates,
        "agg_having": R.agg_having,
        "window_running_sum": R.window_running_sum,
        "batch_sessionization": R.batch_sessionization,
        "asof_join": q_asof_join,
        "salted_agg": q_salted_agg,
        "hll_users": q_hll_users,
        "exact_dedup": q_exact_dedup,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "filter_projection": q_filter_projection,
        "topk_orders": R.topk_orders,
        "upsert_update_demo": R.upsert_update_demo,
        "delete_ops_demo": R.delete_ops_demo,
        "skip_policy_demo": R.skip_policy_demo,
        "allow_policy_demo": R.allow_policy_demo,
        "q5_local_supplier_volume": R.q5_local_supplier_volume,
        "join_semi_anti": R.join_semi_anti,
        "rollup_nation_region": R.rollup_nation_region,
        "cube_flags": R.cube_flags,
        "window_rank_lag": R.window_rank_lag,
        "set_ops_nations": R.set_ops_nations,
        "string_functions": R.string_functions,
        "date_functions": R.date_functions,
        "json_functions": R.json_functions,
        "math_case_functions": R.math_case_functions,
        "distinct_counts": R.distinct_counts,
        "percentiles_by_flag": R.percentiles_by_flag,
        "window_distribution": R.window_distribution,
        "full_outer_revenue": R.full_outer_revenue,
        "rolling_event_stats": R.rolling_event_stats,
        "unpivot_quantities": R.unpivot_quantities,
        "grouping_sets_revenue": R.grouping_sets_revenue,
        "exists_subqueries": R.exists_subqueries,
        "pivot_status": R.pivot_status,
        "scalar_subquery": R.scalar_subquery,
        "null_semantics": R.null_semantics,
        "agg_modern": R.agg_modern,
        "array_hof": R.array_hof,
        "events_tumbling_windows": R.events_tumbling_windows,
        "events_sliding_windows": R.events_sliding_windows,
        "range_join_bands": q_range_join_bands,
        "global_ranking": q_global_ranking,
        "hash_split": q_hash_split,
        "stratified_sample": q_stratified_sample,
        "histogram_quantiles": q_histogram_quantiles,
        "knn_multi": q_knn_multi,
        "lsh_bucket_hist": q_lsh_bucket_hist,
        "vector_stats": q_vector_stats,
        "minhash_signatures": q_minhash_signatures,
        "simhash": q_simhash,
        "ngram_jaccard": q_ngram_jaccard,
        "embedding_neardup": q_embedding_neardup,
        "text_quality": q_text_quality,
        # --- round 10 additions ---
        "merge_schema_evolution": q_merge_schema_evolution,
        "merge_type_widening": q_merge_type_widening,
        "indexed_table_ann": q_indexed_table_ann,
        "sql_front_door": q_sql_front_door,
        "restore_clone": q_restore_clone,
        "rename_column": q_rename_column,
        "table_metadata": q_table_metadata,
        "drop_column": q_drop_column,
        "null_skipping": q_null_skipping,
        "time_travel_as_of": q_time_travel_as_of,
        "hnsw_topk": q_hnsw_topk,
        "hnsw_incremental": q_hnsw_incremental,
        "hnsw_multi": q_hnsw_multi,
        "hnsw_filtered": q_hnsw_filtered,
        "hnsw_streaming": q_hnsw_streaming,
        "hnsw_delete": q_hnsw_delete,
    }
    window = _driver_window(list(reg), os.path.dirname(os.path.abspath(__file__)))
    ordered = {n: reg[n] for n in window}
    ordered.update(reg)  # existing keys keep their place, the rest append
    return ordered


# ------------------------------------------------------------------ oracles


def _lsh_probe_masks_values() -> str:
    """VALUES list of every N_PLANES-bit mask with popcount <= LSH_PROBE_T —
    the XOR offsets defining the multi-probe bucket set."""
    import itertools

    masks = [0]
    for t in range(1, LSH_PROBE_T + 1):
        for flips in itertools.combinations(range(N_PLANES), t):
            m = 0
            for b in flips:
                m |= 1 << b
            masks.append(m)
    return ", ".join(f"({m})" for m in sorted(masks))


def _repetition_pii_oracle() -> str:
    em = dict(T.PII_PATTERNS)["EMAIL"]
    ip = dict(T.PII_PATTERNS)["IP"]
    ph = dict(T.PII_PATTERNS)["PHONE"]
    return f"""
        WITH s AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0
                        THEN text || ' contact user' || doc_id::VARCHAR
                             || '@example.com from 10.0.0.' || (doc_id % 256)::VARCHAR
                             || ' tel +1 555 000 ' || doc_id::VARCHAR
                        ELSE text END AS text
            FROM documents
        ),
        tokq AS (SELECT doc_id, text, {_DUCK_TOKENS} AS t FROM s),
        sh AS (SELECT doc_id, text, {_duck_shingles("t")} AS shs FROM tokq)
        SELECT doc_id,
               round(1.0 - len(list_distinct(shs))::DOUBLE / greatest(len(shs), 1), 6)
                   AS rep_ratio,
               len(regexp_extract_all(text, '{em}'))::INT AS n_email,
               len(regexp_extract_all(text, '{ip}'))::INT AS n_ip,
               len(regexp_extract_all(text, '{ph}'))::INT AS n_phone,
               md5(regexp_replace(regexp_replace(regexp_replace(
                   text, '{em}', '<EMAIL>', 'g'), '{ip}', '<IP>', 'g'), '{ph}', '<PHONE>', 'g'))
                   AS scrub_md5
        FROM sh
    """


def _duck_l2dist(a: str, b: str) -> str:
    """DuckDB Euclidean distance mirroring functions.vector.l2_distance's
    fold: per-element (double-cast) squared diff, summed in array order."""
    return (
        f"sqrt(list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * "
        f"(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))))"
    )


def _duck_list_norm(a: str) -> str:
    return (
        f"sqrt(list_sum(list_transform({a}, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )


def _kcenter_oracle(k: int) -> str:
    """Unrolled greedy k-center (similarity.greedy_kcenter): round r picks
    argmax of the running min-distance to the chosen set (DESC, id ASC
    tie-break), stops when the max distance hits 0. Same trick as the
    logreg_gd oracle — a deterministic driver loop unrolls to k CTE rounds.
    MATERIALIZED stops DuckDB inlining each d-round twice per reference
    (the chain would otherwise blow up 2^k)."""
    ctes = [
        "c0 AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings "
        "ORDER BY vec_id LIMIT 1)",
        "d1 AS MATERIALIZED (SELECT e.vec_id, e.embedding, "
        + _duck_l2dist("e.embedding", "(SELECT embedding FROM c0)")
        + " AS d FROM embeddings e)",
    ]
    selects = [
        "SELECT 0 AS pick_order, (SELECT vec_id FROM c0) AS vec_id, "
        "CAST(0.0 AS DOUBLE) AS coverage_radius"
    ]
    for r in range(1, k):
        ctes.append(
            f"p{r} AS MATERIALIZED (SELECT vec_id, embedding, d FROM d{r} "
            f"ORDER BY d DESC, vec_id LIMIT 1)"
        )
        # monotone radii: once a round's max distance is <= 0 every later
        # round's is too, so per-branch WHERE reproduces the Spark break
        selects.append(
            f"SELECT {r} AS pick_order, (SELECT vec_id FROM p{r}) AS vec_id, "
            f"round((SELECT d FROM p{r}), 6) AS coverage_radius "
            f"WHERE (SELECT d FROM p{r}) > 0"
        )
        if r < k - 1:
            ctes.append(
                f"d{r + 1} AS MATERIALIZED (SELECT t.vec_id, t.embedding, "
                f"least(t.d, "
                + _duck_l2dist("t.embedding", f"(SELECT embedding FROM p{r})")
                + f") AS d FROM d{r} t)"
            )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


def _kmeans_oracle(k: int, iters: int) -> str:
    """Unrolled Lloyd's k-means (similarity.kmeans_fit, k lowest-id init,
    fixed ``iters``): per round, (1) assign = argmin L2 distance over the
    k-row centroid table (first-index tie-break = ORDER BY dist, cell),
    (2) update = per-(cell, dim) mean ROUNDED to 6 — the same rounding the
    Spark side applies via label_centroids each round, which is what makes
    the cross-engine unroll converge bitwise: both engines re-enter every
    round with identical decimal centroids. Empty cells keep their
    previous centroid (coalesce). Output = final-assignment means, long
    form (cell, dim, value, n)."""
    ctes = [
        "init AS MATERIALIZED (SELECT row_number() OVER (ORDER BY vec_id) - 1 "
        "AS cell, embedding FROM (SELECT vec_id, embedding FROM embeddings "
        f"ORDER BY vec_id LIMIT {k}))",
        "c0 AS MATERIALIZED (SELECT cell, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c FROM init)",
    ]

    def _assign(r: int, cent: str) -> list[str]:
        return [
            f"a{r} AS MATERIALIZED (SELECT e.vec_id, e.embedding, c.cell, "
            "row_number() OVER (PARTITION BY e.vec_id ORDER BY "
            + _duck_l2dist("e.embedding", "c.c")
            + f" ASC, c.cell ASC) AS rn FROM embeddings e CROSS JOIN {cent} c)",
            f"asg{r} AS MATERIALIZED (SELECT vec_id, embedding, cell "
            f"FROM a{r} WHERE rn = 1)",
        ]

    for r in range(1, iters + 1):
        ctes += _assign(r, f"c{r - 1}")
        ctes.append(
            f"m{r} AS MATERIALIZED (SELECT cell, dim, "
            "round(avg(CAST(v AS DOUBLE)), 6) AS m FROM ("
            f"SELECT cell, unnest(embedding) AS v, "
            f"generate_subscripts(embedding, 1) AS dim FROM asg{r}"
            ") GROUP BY cell, dim)"
        )
        ctes.append(
            f"c{r} AS MATERIALIZED (SELECT p.cell, coalesce(mm.c, p.c) AS c "
            f"FROM c{r - 1} p LEFT JOIN (SELECT cell, list(m ORDER BY dim) AS c "
            f"FROM m{r} GROUP BY cell) mm USING (cell))"
        )
    ctes += _assign(iters + 1, f"c{iters}")
    fin = iters + 1
    ctes.append(
        f"cnt AS MATERIALIZED (SELECT cell, count(*)::BIGINT AS n "
        f"FROM asg{fin} GROUP BY cell)"
    )
    ctes.append(
        f"mf AS MATERIALIZED (SELECT cell, dim, "
        "round(avg(CAST(v AS DOUBLE)), 6) AS m FROM ("
        f"SELECT cell, unnest(embedding) AS v, "
        f"generate_subscripts(embedding, 1) AS dim FROM asg{fin}"
        ") GROUP BY cell, dim)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT mf.cell::INT AS cell, mf.dim::INT AS dim, mf.m AS value, cnt.n"
        + "\nFROM mf JOIN cnt USING (cell)"
    )


def _pq_oracle(
    m_sub: int,
    k: int,
    iters: int,
    q_vec_id: int,
    topn: int,
    ivf_nprobe: int | None = None,
) -> str:
    """Unrolled product quantization (similarity.pq_train_encode/pq_topk):
    the _kmeans_oracle recurrence with a subspace key — per round, argmin
    SQUARED-L2 assignment over the (sub, code) codebook (ties → smallest
    code) and per-(sub, code, dim) means rounded to 1e-6 so both engines
    re-enter each round with identical decimal centroids. The ADC lookup
    table fixed-points each subspace distance to micros exactly like the
    Python-side LUT, so the per-vector sum is an exact BIGINT."""
    sub_vals = ", ".join(f"({s})" for s in range(m_sub))

    def sqd(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(list_zip({a}, {b}), "
            f"p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * "
            f"(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
        )

    ctes = [
        "dimn AS MATERIALIZED (SELECT len(embedding) AS d FROM embeddings LIMIT 1)",
        f"subs AS MATERIALIZED (SELECT s FROM (VALUES {sub_vals}) t(s))",
        # per-(vector, subspace) double subvectors
        "sub AS MATERIALIZED (SELECT e.vec_id, t.s AS sub, "
        "list_transform(e.embedding[(t.s * (SELECT d FROM dimn) // "
        f"{m_sub} + 1):((t.s + 1) * (SELECT d FROM dimn) // {m_sub})], "
        "x -> CAST(x AS DOUBLE)) AS sv FROM embeddings e CROSS JOIN subs t)",
        # init: codes 0..k-1 = the k lowest-id vectors' slices
        "init AS MATERIALIZED (SELECT sub, row_number() OVER (PARTITION BY sub "
        "ORDER BY vec_id) - 1 AS code, sv AS c FROM sub WHERE vec_id IN "
        f"(SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k}))",
        "c0 AS MATERIALIZED (SELECT sub, code, c FROM init)",
    ]

    def _assign(r: int, cent: str) -> list[str]:
        return [
            f"a{r} AS MATERIALIZED (SELECT t.vec_id, t.sub, t.sv, c.code, "
            "row_number() OVER (PARTITION BY t.vec_id, t.sub ORDER BY "
            + sqd("t.sv", "c.c")
            + f" ASC, c.code ASC) AS rn FROM sub t JOIN {cent} c ON c.sub = t.sub)",
            f"asg{r} AS MATERIALIZED (SELECT vec_id, sub, sv, code FROM a{r} "
            "WHERE rn = 1)",
        ]

    for r in range(1, iters + 1):
        ctes += _assign(r, f"c{r - 1}")
        ctes.append(
            f"m{r} AS MATERIALIZED (SELECT sub, code, dim, "
            "round(avg(v), 6) AS m FROM (SELECT sub, code, unnest(sv) AS v, "
            f"generate_subscripts(sv, 1) AS dim FROM asg{r}) GROUP BY sub, code, dim)"
        )
        ctes.append(
            f"c{r} AS MATERIALIZED (SELECT p.sub, p.code, coalesce(mm.c, p.c) AS c "
            f"FROM c{r - 1} p LEFT JOIN (SELECT sub, code, list(m ORDER BY dim) AS c "
            f"FROM m{r} GROUP BY sub, code) mm USING (sub, code))"
        )
    fin = iters + 1
    ctes += _assign(fin, f"c{iters}")
    ctes += [
        "qsub AS MATERIALIZED (SELECT t.s AS sub, list_transform("
        "(SELECT embedding FROM embeddings WHERE vec_id = "
        f"{q_vec_id})[(t.s * (SELECT d FROM dimn) // {m_sub} + 1):"
        f"((t.s + 1) * (SELECT d FROM dimn) // {m_sub})], "
        "x -> CAST(x AS DOUBLE)) AS qv FROM subs t)",
        "lut AS MATERIALIZED (SELECT c.sub, c.code, "
        "floor(" + sqd("q.qv", "c.c") + " * 1000000.0 + 0.5)::BIGINT AS dmicro "
        f"FROM c{iters} c JOIN qsub q ON q.sub = c.sub)",
    ]
    cand_filter = ""
    if ivf_nprobe is not None:
        qsel = f"(SELECT embedding FROM embeddings WHERE vec_id = {q_vec_id})"
        ctes += [
            "ivfqd AS MATERIALIZED (SELECT unnest(range(0, "
            f"{IVF_K})) AS cell, unnest(["
            + ", ".join(_duck_dot(qsel, _duck_plane_lit(c)) for c in CENTROIDS)
            + "]) AS d)",
            "ivfprobe AS MATERIALIZED (SELECT cell FROM ivfqd "
            f"ORDER BY d DESC, cell LIMIT {ivf_nprobe})",
            "ivfcand AS MATERIALIZED (SELECT vec_id FROM (SELECT vec_id, "
            + _duck_ivf_cell("embedding")
            + " AS cell FROM embeddings) WHERE cell IN (SELECT cell FROM ivfprobe))",
        ]
        cand_filter = " WHERE a.vec_id IN (SELECT vec_id FROM ivfcand)"
    ctes.append(
        f"sc AS MATERIALIZED (SELECT a.vec_id, sum(l.dmicro)::BIGINT AS dm "
        f"FROM asg{fin} a JOIN lut l ON l.sub = a.sub AND l.code = a.code"
        f"{cand_filter} GROUP BY a.vec_id)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT CAST(row_number() OVER (ORDER BY dm ASC, vec_id ASC) AS INTEGER)"
        + " AS rank, vec_id, round(dm / 1000000.0, 6) AS approx_dist2"
        + f"\nFROM sc ORDER BY dm ASC, vec_id ASC LIMIT {topn}"
    )


def _mmr_oracle(k: int, pool: int, lam: float, q_vec_id: int) -> str:
    """Unrolled MMR greedy selection (similarity.mmr_rerank): top-``pool``
    cosine candidates, then k rounds of argmax(λ·rel − (1−λ)·max-sim-to-
    chosen) with (score DESC, rel DESC, id ASC) tie-break — the order
    np.argmax sees over candidates pre-sorted by (rel DESC, id). λ and
    1−λ are emitted at full double precision ((1-0.7) is
    0.30000000000000004, not 0.3 — the numpy side uses exactly that)."""
    lam_s = f"CAST({lam!r} AS DOUBLE)"
    oml_s = f"CAST({(1.0 - lam)!r} AS DOUBLE)"
    qsel = f"(SELECT embedding FROM embeddings WHERE vec_id = {q_vec_id})"

    def cosd(a: str, b: str) -> str:
        return f"({_duck_dot(a, b)} / ({_duck_list_norm(a)} * {_duck_list_norm(b)}))"

    ctes = [
        "cand AS MATERIALIZED (SELECT e.vec_id, e.embedding, "
        + cosd("e.embedding", qsel)
        + f" AS rel FROM embeddings e ORDER BY rel DESC, e.vec_id LIMIT {pool})",
        f"s0 AS MATERIALIZED (SELECT vec_id, embedding, rel, {lam_s} * rel AS score "
        "FROM cand ORDER BY score DESC, rel DESC, vec_id LIMIT 1)",
    ]
    for r in range(1, k):
        prev_m = "cand c" if r == 1 else f"m{r - 1} c"
        ms = (
            cosd("c.embedding", f"(SELECT embedding FROM s{r - 1})")
            if r == 1
            else "greatest(c.ms, "
            + cosd("c.embedding", f"(SELECT embedding FROM s{r - 1})")
            + ")"
        )
        ctes.append(
            f"m{r} AS MATERIALIZED (SELECT c.vec_id, c.embedding, c.rel, {ms} AS ms "
            f"FROM {prev_m} WHERE c.vec_id <> (SELECT vec_id FROM s{r - 1}))"
        )
        ctes.append(
            f"s{r} AS MATERIALIZED (SELECT vec_id, embedding, rel, ms, "
            f"{lam_s} * rel - {oml_s} * ms AS score "
            f"FROM m{r} ORDER BY score DESC, rel DESC, vec_id LIMIT 1)"
        )
    selects = [
        f"SELECT {r} AS rank, (SELECT vec_id FROM s{r}) AS vec_id, "
        f"round((SELECT rel FROM s{r}), 6) AS relevance, "
        f"round((SELECT score FROM s{r}), 6) AS mmr_score"
        for r in range(k)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


def oracle_sql() -> dict[str, str]:
    dot_q0 = _duck_dot(
        "e.embedding", "(SELECT embedding FROM embeddings WHERE vec_id = 0)"
    )
    dot_q1 = _duck_dot(
        "e.embedding", "(SELECT embedding FROM embeddings WHERE vec_id = 1)"
    )
    norm = "sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    qnorm = (
        "sqrt(list_sum(list_transform((SELECT embedding FROM embeddings WHERE vec_id = 1), "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )
    sh = _duck_shingles("t", SHINGLE_N)
    # mirror of dedup.minhash_signature_long: 4 × 32-bit hashes per md5
    minhash_cols = ", ".join(
        f"min((('0x' || substr(md5('mh{i // 4}:' || shingle), {1 + 8 * (i % 4)}, 8))"
        f"::UBIGINT)::BIGINT) AS h{i}"
        for i in range(MINHASH_N)
    )
    band_cond = " OR ".join(f"(a.h{i} = b.h{i})" for i in range(MINHASH_N))
    inc_band_cond = " OR ".join(f"(n.h{i} = c.h{i})" for i in range(MINHASH_N))
    # 16-hash variant for source-level similarity (same mh{j}: digest
    # slicing scheme as dedup.minhash_signature_long)
    srcsim_cols = ", ".join(
        f"min((('0x' || substr(md5('mh{i // 4}:' || shingle), {1 + 8 * (i % 4)}, 8))"
        f"::UBIGINT)::BIGINT) AS h{i}"
        for i in range(16)
    )
    srcsim_agree = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(16)
    )
    # r=2 banding for the edit-distance verifier: band k matches iff BOTH
    # of its rows agree — the textbook AND-then-OR S-curve, far more
    # selective than the single-row bands above (42k -> ~1k candidates at
    # sf0.1), so the expensive exact verification only pays for
    # plausibly-similar pairs.
    edit_band_cond = " OR ".join(
        f"(a.h{2 * k} = b.h{2 * k} AND a.h{2 * k + 1} = b.h{2 * k + 1})"
        for k in range(MINHASH_N // 2)
    )
    simhash_bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(SIMHASH_BITS)
    )
    simhash_recombine = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {2**b}::BIGINT ELSE 0::BIGINT END)"
        for b in range(SIMHASH_BITS)
    )
    sh_pair_bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(SH_PAIR_BITS)
    )
    sh_pair_recombine = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {2**b}::BIGINT ELSE 0::BIGINT END)"
        for b in range(SH_PAIR_BITS)
    )

    # quality classifier end-to-end: 2 GD steps unrolled (step 1 has w=0 so
    # sigma=0.5 exactly), then every doc scored with the ROUNDED weights —
    # identical doubles both engines, exact floor. A local var because the
    # calibration oracle nests the same pipeline.
    qm_sql = f"""
            WITH t AS (
                SELECT doc_id, n_chars, source, {_DUCK_TOKENS} AS t
                FROM documents
            ),
            base AS (
                SELECT doc_id, 1.0 AS x0,
                       n_chars / 1000.0 AS x1,
                       len(t) / 100.0 AS x2,
                       len(list_distinct(t))::DOUBLE / len(t) AS x3,
                       CASE WHEN source = 'src0' THEN 1.0 ELSE 0.0 END AS y
                FROM t
            ),
            nn AS (SELECT count(*)::DOUBLE AS n FROM base),
            s1 AS (
                SELECT sum(x0 * (0.5 - y)) AS g0, sum(x1 * (0.5 - y)) AS g1,
                       sum(x2 * (0.5 - y)) AS g2, sum(x3 * (0.5 - y)) AS g3
                FROM base
            ),
            w1 AS (
                SELECT 0.0 - g0 / nn.n AS w0, 0.0 - g1 / nn.n AS w1,
                       0.0 - g2 / nn.n AS w2, 0.0 - g3 / nn.n AS w3
                FROM s1 CROSS JOIN nn
            ),
            s2 AS (
                SELECT sum(x0 * (1.0 / (1.0 + exp(-(w0 * x0 + w1 * x1 + w2 * x2 + w3 * x3))) - y)) AS g0,
                       sum(x1 * (1.0 / (1.0 + exp(-(w0 * x0 + w1 * x1 + w2 * x2 + w3 * x3))) - y)) AS g1,
                       sum(x2 * (1.0 / (1.0 + exp(-(w0 * x0 + w1 * x1 + w2 * x2 + w3 * x3))) - y)) AS g2,
                       sum(x3 * (1.0 / (1.0 + exp(-(w0 * x0 + w1 * x1 + w2 * x2 + w3 * x3))) - y)) AS g3
                FROM base CROSS JOIN w1
            ),
            w2 AS (
                SELECT w1.w0 - s2.g0 / nn.n AS w0, w1.w1 - s2.g1 / nn.n AS w1,
                       w1.w2 - s2.g2 / nn.n AS w2, w1.w3 - s2.g3 / nn.n AS w3
                FROM w1 CROSS JOIN s2 CROSS JOIN nn
            ),
            wr AS (
                SELECT round(w0, 6) AS w0, round(w1, 6) AS w1,
                       round(w2, 6) AS w2, round(w3, 6) AS w3
                FROM w2
            )
            SELECT b.doc_id, b.y::BIGINT AS is_target,
                   floor((wr.w0 + wr.w1 * b.x1 + wr.w2 * b.x2 + wr.w3 * b.x3)
                         * 1e6 + 0.5)::BIGINT AS logit_micro
            FROM base b CROSS JOIN wr
    """

    # deterministic_walks replay: the identical md5 total order, one
    # MATERIALIZED CTE per step (plain CTEs re-expand the chain
    # exponentially in DuckDB)
    walk_steps = []
    for t in range(1, WALK_LEN + 1):
        prev = f"w{t - 1}"
        walk_steps.append(f"""
            w{t} AS MATERIALIZED (
                SELECT p.walk_id, {t} AS step,
                       arg_min(e.d,
                               md5('walk:' || p.walk_id::VARCHAR || ':{t}:'
                                   || p.node::VARCHAR || ':' || e.d::VARCHAR)
                               || '|' || e.d::VARCHAR) AS node
                FROM {prev} p JOIN e ON e.s = p.node
                GROUP BY p.walk_id
            )""")
    walks_sql = f"""
        WITH e0 AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        e AS MATERIALIZED (
            SELECT a AS s, b AS d FROM e0 UNION SELECT b, a FROM e0
        ),
        w0 AS MATERIALIZED (
            SELECT node AS walk_id, 0 AS step, node
            FROM (SELECT DISTINCT s AS node FROM e)
            WHERE node % {WALK_MOD} = 0
        ),{",".join(walk_steps)}
        SELECT walk_id, CAST(step AS INTEGER) AS step, node
        FROM ({" UNION ALL ".join(f"SELECT * FROM w{t}" for t in range(WALK_LEN + 1))})
    """

    # shared by ivfsq_topk and ivfsq_incremental (identical served query)
    ivfsq_sql = f"""
            WITH qd AS (
                SELECT unnest(range(0, {IVF_K})) AS cell,
                       unnest([{", ".join(_duck_dot("(SELECT embedding FROM embeddings WHERE vec_id = 0)", _duck_plane_lit(c)) for c in CENTROIDS)}]) AS d
            ),
            probe AS (SELECT cell FROM qd ORDER BY d DESC, cell LIMIT {IVF_NPROBE}),
            cells AS (
                SELECT vec_id, embedding, {_duck_ivf_cell("embedding")} AS cell
                FROM embeddings
            ),
            sub AS (
                SELECT vec_id, embedding FROM cells
                WHERE cell IN (SELECT cell FROM probe)
            ),
            bounds AS (
                SELECT i, CAST(min(v) AS DOUBLE) AS lo, CAST(max(v) AS DOUBLE) AS hi
                FROM (SELECT unnest(embedding) AS v,
                             unnest(generate_series(1, len(embedding))) AS i
                      FROM embeddings)
                GROUP BY i
            ),
            model AS (
                SELECT list(lo ORDER BY i) AS lo,
                       list((hi - lo) / 255.0 ORDER BY i) AS step
                FROM bounds
            ),
            q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            codes AS (
                SELECT e.vec_id,
                       list_transform(generate_series(1, 64), i ->
                           CASE WHEN m.step[i] = 0 THEN 0
                                ELSE greatest(0, least(255,
                                    CAST(floor((CAST(e.embedding[i] AS DOUBLE) - m.lo[i])
                                               / m.step[i] + 0.5) AS INTEGER)))
                           END) AS c
                FROM sub e, model m
            ),
            adc AS (
                SELECT c.vec_id,
                       round(list_sum(list_transform(generate_series(1, 64), i ->
                           CAST(q.qv[i] AS DOUBLE)
                           * (m.lo[i] + m.step[i] * c.c[i]))), 6) AS a
                FROM codes c, model m, q
            ),
            cand AS (SELECT vec_id FROM adc ORDER BY a DESC, vec_id LIMIT {SQ_CANDIDATES})
            SELECT e.vec_id, round({_duck_dot("e.embedding", "q.qv")}, 6) AS score
            FROM embeddings e JOIN cand USING (vec_id), q
            ORDER BY score DESC, e.vec_id LIMIT {KNN_K}
        """

    d = {
        "knn_topk": f"""
            SELECT e.vec_id, round({dot_q0}, 6) AS score
            FROM embeddings e
            ORDER BY score DESC, e.vec_id LIMIT {KNN_K}
        """,
        "hnsw_topk": f"""
            SELECT e.vec_id,
                   round({_duck_dot("e.embedding", "(SELECT embedding FROM embeddings WHERE vec_id = 5)")}, 6) AS score
            FROM embeddings e
            ORDER BY score DESC, e.vec_id LIMIT {KNN_K}
        """,
        "hnsw_incremental": f"""
            SELECT e.vec_id,
                   round({_duck_dot("e.embedding", "(SELECT embedding FROM embeddings WHERE vec_id = 9)")}, 6) AS score
            FROM embeddings e
            ORDER BY score DESC, e.vec_id LIMIT {KNN_K}
        """,
        "hnsw_delete": f"""
            WITH live AS (
                SELECT e.vec_id,
                       round({_duck_dot("e.embedding", "(SELECT embedding FROM embeddings WHERE vec_id = 4)")}, 6) AS score
                FROM embeddings e WHERE e.vec_id < 500 AND e.vec_id % 7 != 0
                ORDER BY score DESC, e.vec_id LIMIT {KNN_K}
            )
            SELECT vec_id, score, stage FROM (
                SELECT vec_id, score, 'tombstoned' AS stage FROM live
                UNION ALL
                SELECT vec_id, score, 'compacted' FROM live
            ) ORDER BY stage, score DESC, vec_id
        """,
        "hnsw_streaming": f"""
            SELECT e.vec_id,
                   round({_duck_dot("e.embedding", "(SELECT embedding FROM embeddings WHERE vec_id = 11)")}, 6) AS score
            FROM embeddings e
            ORDER BY score DESC, e.vec_id LIMIT {KNN_K}
        """,
        "hnsw_filtered": f"""
            SELECT e.vec_id,
                   round({_duck_dot("e.embedding", "(SELECT embedding FROM embeddings WHERE vec_id = 1)")}, 6) AS score
            FROM embeddings e
            WHERE e.label = 3
            ORDER BY score DESC, e.vec_id LIMIT {KNN_K}
        """,
        "hnsw_multi": f"""
            WITH scored AS (
                SELECT q.vec_id AS q_id, e.vec_id,
                       round({_duck_dot("e.embedding", "q.embedding")}, 6) AS score
                FROM embeddings e, embeddings q WHERE q.vec_id IN (2, 4, 6)
            ), ranked AS (
                SELECT q_id, vec_id, score,
                       row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank
                FROM scored
            )
            SELECT q_id, vec_id, score, rank FROM ranked WHERE rank <= {KNN_K}
        """,
        "knn_cosine": f"""
            SELECT e.vec_id, round({dot_q1} / ({norm} * {qnorm}), 6) AS score
            FROM embeddings e
            ORDER BY score DESC, e.vec_id LIMIT {KNN_K}
        """,
        "knn_multi": f"""
            WITH scored AS (
                SELECT q.vec_id AS q_id, e.vec_id,
                       round({_duck_dot("e.embedding", "q.embedding")}, 6) AS score
                FROM embeddings e, embeddings q WHERE q.vec_id < 3
            ), ranked AS (
                SELECT q_id, vec_id, score,
                       row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank
                FROM scored
            )
            SELECT q_id, vec_id, score, rank FROM ranked WHERE rank <= 5
        """,
        "lsh_bucket_hist": f"""
            SELECT {_duck_signature("embedding")} AS bucket, count(*) AS n_vectors
            FROM embeddings GROUP BY 1
        """,
        "vector_stats": f"""
            SELECT label, count(*) AS n_vecs,
                   round(avg({norm}), 6) AS avg_norm,
                   round(max({norm}), 6) AS max_norm
            FROM embeddings e GROUP BY label
        """,
        "label_centroids": """
            WITH ex AS (
                SELECT label, unnest(embedding) AS v,
                       generate_subscripts(embedding, 1) AS dim
                FROM embeddings
            ),
            dims AS (
                SELECT label, dim, round(avg(CAST(v AS DOUBLE)), 6) AS m
                FROM ex GROUP BY label, dim
            ),
            cnt AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label)
            SELECT d.label, d.dim::INT AS dim, d.m AS value, c.n
            FROM dims d JOIN cnt c ON d.label = c.label
        """,
        # greedy k-center / MMR / k-means are deterministic given the data,
        # so the driver loops unroll to fixed CTE rounds (same pattern as
        # logreg_gd) — no rows-only queries remain.
        "kcenter_coreset": _kcenter_oracle(KCENTER_K),
        "mmr_rerank": _mmr_oracle(KNN_K, 100, 0.7, 7),
        "kmeans_centroids": _kmeans_oracle(k=4, iters=3),
        # gapped subsequence: existence iff min_ts(a) < max_ts(b) per user
        "sequence_support": f"""
            WITH ut AS (
              SELECT user_id AS u, event_type AS t,
                     min(ts) AS tmin, max(ts) AS tmax
              FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
            )
            SELECT a.t AS type_a, b.t AS type_b, count(*)::BIGINT AS support
            FROM ut a JOIN ut b
              ON b.u = a.u AND a.t <> b.t AND a.tmin < b.tmax
            GROUP BY a.t, b.t HAVING count(*) >= {SEQ_MIN_SUPPORT}
        """,
        # mutual NN: the literal O(n^2) definition over the capped panel
        "mutual_nn": f"""
            WITH e AS (
              SELECT vec_id, embedding FROM embeddings WHERE vec_id < {MNN_CAP}
            ),
            s AS (
              SELECT a.vec_id AS qa, b.vec_id AS qb,
                     round({_duck_dot("a.embedding", "b.embedding")}, 6) AS sc
              FROM e a JOIN e b ON a.vec_id <> b.vec_id
            ),
            nn AS (
              SELECT qa, qb, sc,
                     row_number() OVER (PARTITION BY qa ORDER BY sc DESC, qb ASC)
                       AS rn
              FROM s
            ),
            b1 AS (SELECT qa, qb, sc FROM nn WHERE rn = 1)
            SELECT x.qa AS id_a, x.qb AS id_b, x.sc AS score
            FROM b1 x JOIN b1 y ON y.qa = x.qb AND y.qb = x.qa
            WHERE x.qa < x.qb
        """,
        "pq_topk": _pq_oracle(PQ_M, PQ_K, PQ_ITERS, PQ_QVEC, PQ_TOPN),
        "ivfpq_topk": _pq_oracle(
            PQ_M, PQ_K, PQ_ITERS, PQ_QVEC, PQ_TOPN, ivf_nprobe=IVF_NPROBE
        ),
        # the incremental index (base build + 2 streamed epochs) must serve
        # exactly what the ad-hoc path computes over the full corpus —
        # encoding is a pure function of (embedding, frozen artifacts), so
        # the oracle is ivfpq_topk's unrolled replay verbatim
        "ivfpq_incremental": _pq_oracle(
            PQ_M, PQ_K, PQ_ITERS, PQ_QVEC, PQ_TOPN, ivf_nprobe=IVF_NPROBE
        ),
        # identical md5 ranks + integer order statistics on both engines —
        # the APPROXIMATE estimates hash-match because the sample and the
        # interpolation are bit-reproducible
        "sampled_quantiles": f"""
            WITH s AS (
                SELECT l_extendedprice AS v
                FROM lineitem
                ORDER BY ('0x' || substr(md5('rs:' || (CAST(l_orderkey AS VARCHAR)
                           || '-' || CAST(l_linenumber AS VARCHAR))), 1, 15))::UBIGINT
                LIMIT {SQ_K}
            ),
            n AS (SELECT count(*) AS n FROM s),
            r AS (SELECT v, row_number() OVER (ORDER BY v ASC) AS i FROM s),
            ps AS (
                SELECT CAST(unnest([{", ".join(str(p) for p in SQ_PS)}]) AS DOUBLE) AS p
            )
            SELECT ps.p, n.n::BIGINT AS n_sample,
                   round(r.v, 6) + 0.0 AS estimate
            FROM ps, n
            JOIN r ON r.i = CAST(floor(ps.p * (n.n - 1)) AS INT) + 1
            ORDER BY ps.p
        """,
        # the maintained view must equal a full recompute of the post-merge
        # state — the oracle replays the merge relationally and aggregates
        "ivm_agg": """
            WITH target AS (
              SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 3 <> 0
            ), src AS (
              SELECT doc_id, lang, n_chars + 1000 AS n_chars,
                     CASE WHEN doc_id % 10 = 0 THEN 'delete' ELSE 'upsert' END AS op
              FROM documents WHERE doc_id % 2 = 0
            ), final AS (
              SELECT t.doc_id, t.lang, t.n_chars FROM target t
              WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.doc_id = t.doc_id)
              UNION ALL
              SELECT s.doc_id, s.lang, s.n_chars FROM src s WHERE s.op = 'upsert'
            )
            SELECT lang, count(*)::BIGINT AS n_rows,
                   sum(n_chars)::BIGINT AS sum_chars
            FROM final GROUP BY lang
        """,
        # the identical 3-batch count/reduce/merge sequence unrolled in SQL
        "mg_heavy_hitters": _mg_oracle_sql(),
        # identical per-group md5 ranks + per-group order statistics
        "grouped_sample_quantiles": f"""
            WITH s AS (
                SELECT lang, n_chars,
                       row_number() OVER (
                           PARTITION BY lang
                           ORDER BY ('0x' || substr(md5('rs:' ||
                               CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
                       ) AS rk
                FROM documents
            ),
            t AS (SELECT lang, n_chars FROM s WHERE rk <= {SQB_K}),
            r AS (
                SELECT lang, n_chars,
                       row_number() OVER (
                           PARTITION BY lang ORDER BY n_chars ASC
                       ) AS i,
                       count(*) OVER (PARTITION BY lang) AS n
                FROM t
            ),
            ps AS (
                SELECT CAST(unnest([{", ".join(str(p) for p in SQB_PS)}]) AS DOUBLE) AS p
            )
            SELECT r.lang, ps.p, r.n::BIGINT AS n_sample,
                   round(CAST(r.n_chars AS DOUBLE), 6) + 0.0 AS estimate
            FROM r, ps
            WHERE r.i = CAST(floor(ps.p * (r.n - 1)) AS BIGINT) + 1
        """,
        # append-maintained zone maps are IO-only like the rest of the
        # skipping family — plain window predicate on the raw table
        "append_skipping": f"""
            SELECT event_type,
                   count(*)::BIGINT AS n_events,
                   sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS value_cents
            FROM events
            WHERE ts >= TIMESTAMP '{AS_LO}' AND ts < TIMESTAMP '{AS_HI}'
            GROUP BY event_type
        """,
        # slice + sequential-fold renorm + dot replayed in SQL — same IEEE
        # ops in the same order, so the truncated scores hash-match
        "mrl_topk": f"""
            WITH t AS (
                SELECT vec_id, embedding[1:{MRL_DIMS}] AS e FROM embeddings
            ),
            n AS (
                SELECT vec_id, e,
                       sqrt(list_sum(list_transform(
                           e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                       ))) AS nm
                FROM t
            ),
            v AS (
                SELECT vec_id,
                       list_transform(
                           e,
                           x -> CASE WHEN nm > 0 THEN CAST(x AS DOUBLE) / nm
                                     ELSE 0.0 END
                       ) AS e
                FROM n
            ),
            q AS (SELECT e AS qe FROM v WHERE vec_id = {MRL_QVEC})
            SELECT v.vec_id, round({_duck_dot("v.e", "q.qe")}, 6) AS score
            FROM v, q
            ORDER BY score DESC, v.vec_id
            LIMIT {KNN_K}
        """,
        # optimize is logically a no-op over the DV'd state — the oracle is
        # just the delete predicate on the base
        "optimize_demo": """
            SELECT lang, count(*)::BIGINT AS n_rows,
                   sum(n_chars)::BIGINT AS sum_chars
            FROM documents
            WHERE doc_id % 11 <> 0
            GROUP BY lang
        """,
        # deletion vectors are a storage trade, not a semantics change —
        # the final state is the base minus both delete-key sets
        "delete_vectors": """
            SELECT lang, count(*)::BIGINT AS n_rows,
                   sum(n_chars)::BIGINT AS sum_chars
            FROM documents
            WHERE doc_id % 9 <> 0 AND doc_id % 13 <> 0
            GROUP BY lang
        """,
        # bloom skipping is IO-only too — plain point predicate on the raw
        # table; a false positive costs IO, never correctness
        "bloom_skipping": f"""
            SELECT count(*)::BIGINT AS n_rows,
                   sum(l_quantity)::BIGINT AS total_qty,
                   count(DISTINCT l_orderkey)::BIGINT AS n_orders
            FROM lineitem WHERE l_partkey = {BL_PART}
        """,
        # zone-map skipping is IO-only (file pruning + residual), so the
        # oracle is the window predicate verbatim on the raw table
        "zonemap_skipping": f"""
            SELECT l_returnflag,
                   count(*)::BIGINT AS n_rows,
                   sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                            AS BIGINT))::BIGINT AS revenue_cents
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '{ZM_LO}'
              AND l_shipdate < TIMESTAMP '{ZM_HI}'
            GROUP BY l_returnflag
        """,
        # both headline motif rows run CAPPED (r9): the oracle recomputes
        # the induced subgraph literally (degree over BOTH endpoint
        # appearances, hubs > cap excluded) before the pattern join, so the
        # driver hash checks the capping semantics end-to-end
        "motif_triangles": f"""
            WITH e0 AS (
                SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            ),
            deg AS (
                SELECT v, count(*) AS d FROM (
                    SELECT a AS v FROM e0 UNION ALL SELECT b AS v FROM e0
                ) GROUP BY v
            ),
            hubs AS (SELECT v FROM deg WHERE d > {MOTIF_DEG_CAP}),
            e AS (
                SELECT a, b FROM e0
                WHERE a NOT IN (SELECT v FROM hubs)
                  AND b NOT IN (SELECT v FROM hubs)
            )
            SELECT e1.a AS root, count(*)::BIGINT AS n_ffw
            FROM e e1
            JOIN e e2 ON e2.a = e1.b
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
            GROUP BY e1.a
        """,
        "motif_open_wedges": f"""
            WITH e0 AS (
                SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            ),
            deg AS (
                SELECT v, count(*) AS d FROM (
                    SELECT a AS v FROM e0 UNION ALL SELECT b AS v FROM e0
                ) GROUP BY v
            ),
            hubs AS (SELECT v FROM deg WHERE d > {MOTIF_WEDGE_CAP}),
            e AS (
                SELECT a, b FROM e0
                WHERE a NOT IN (SELECT v FROM hubs)
                  AND b NOT IN (SELECT v FROM hubs)
            )
            SELECT count(*)::BIGINT AS n_open,
                   count(DISTINCT e1.a)::BIGINT AS n_roots,
                   sum(e1.a + e2.b)::BIGINT AS endpoint_sum
            FROM e e1
            JOIN e e2 ON e2.a = e1.b
            WHERE NOT EXISTS (
                SELECT 1 FROM e e3 WHERE e3.a = e1.a AND e3.b = e2.b
            )
        """,
        # max_degree lever: the induced-subgraph capping recomputed
        # literally — degree over BOTH endpoint appearances, hubs (> cap)
        # excluded, then the identical wedge + NOT EXISTS on the capped set
        "motif_capped_wedges": f"""
            WITH e0 AS (
                SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            ),
            deg AS (
                SELECT v, count(*) AS d FROM (
                    SELECT a AS v FROM e0 UNION ALL SELECT b AS v FROM e0
                ) GROUP BY v
            ),
            hubs AS (SELECT v FROM deg WHERE d > {MOTIF_DEG_CAP}),
            e AS (
                SELECT a, b FROM e0
                WHERE a NOT IN (SELECT v FROM hubs)
                  AND b NOT IN (SELECT v FROM hubs)
            )
            SELECT count(*)::BIGINT AS n_open,
                   count(DISTINCT e1.a)::BIGINT AS n_roots,
                   sum(e1.a + e2.b)::BIGINT AS endpoint_sum
            FROM e e1
            JOIN e e2 ON e2.a = e1.b
            WHERE NOT EXISTS (
                SELECT 1 FROM e e3 WHERE e3.a = e1.a AND e3.b = e2.b
            )
        """,
        # hidden partitioning is IO-only (partition rewrite + residual), so
        # the oracle is the user's predicates verbatim on the raw table
        "hidden_partition_prune": f"""
            SELECT event_type,
                   count(*)::BIGINT AS n_events,
                   sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS value_cents
            FROM events
            WHERE ts >= TIMESTAMP '{HP_LO}' AND ts < TIMESTAMP '{HP_HI}'
              AND user_id IN ({", ".join(str(u) for u in HP_USERS)})
            GROUP BY event_type
        """,
        # composed dir+file pruning is likewise IO-only at both levels, so
        # the oracle is again the user's predicates verbatim on raw events
        "hidden_skipping_compose": f"""
            SELECT event_type,
                   count(*)::BIGINT AS n_events,
                   count(DISTINCT user_id)::BIGINT AS n_users,
                   sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS value_cents
            FROM events
            WHERE ts >= TIMESTAMP '{HSK_TS_LO}' AND ts < TIMESTAMP '{HSK_TS_HI}'
              AND value >= {HSK_VAL_LO} AND value < {HSK_VAL_HI}
            GROUP BY event_type
        """,
        # ONE brute-force answer expected under all THREE index labels —
        # the exhaustive-exact serves must agree with the table and with
        # each other (r13 adds the ivfpq kind)
        "multi_index_table": f"""
            WITH base AS (
              SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200
            ), merged AS (
              SELECT vec_id, embedding FROM base WHERE vec_id % 6 <> 0 AND vec_id >= 10
              UNION ALL
              SELECT vec_id, list_transform(embedding, x -> x * CAST(2.0 AS FLOAT)) AS embedding
              FROM base WHERE vec_id % 6 = 0
              UNION ALL
              SELECT vec_id, embedding FROM base WHERE vec_id < 10 AND vec_id % 6 <> 0
              UNION ALL
              SELECT vec_id + 30000 AS vec_id, embedding FROM base WHERE vec_id < 10
            ), live AS (
              SELECT m.* FROM merged m
              WHERE m.vec_id NOT IN (SELECT vec_id FROM base WHERE vec_id % 11 = 0)
            ), q AS (
              SELECT embedding FROM base WHERE vec_id = 21
            ), top AS (
              SELECT l.vec_id,
                     round({_duck_dot("l.embedding", "(SELECT embedding FROM q)")}, 6) AS score
              FROM live l
              ORDER BY score DESC, l.vec_id LIMIT {KNN_K}
            )
            SELECT t.vec_id, t.score, n.index_name
            FROM top t, (VALUES ('hnsw'), ('ivfpq'), ('ivfsq')) AS n(index_name)
            ORDER BY n.index_name, t.score DESC, t.vec_id
        """,
        # the advisor replays relationally: node/tombstone counts from the
        # same id rules, recommendation = ratio >= 0.2 (56/280 is exactly
        # the threshold), compaction folds the dead ids and keeps the ledger
        "index_maintenance_advice": """
            WITH ids AS (SELECT vec_id FROM embeddings WHERE vec_id < 280),
            dead AS (SELECT vec_id FROM ids WHERE vec_id % 5 = 0)
            SELECT 'post' AS stage,
                   (SELECT count(*) FROM ids) - (SELECT count(*) FROM dead)
                       AS n_nodes,
                   CAST(0 AS BIGINT) AS n_tombstones,
                   CAST(0 AS INT) AS recommend_compact,
                   CAST(1 AS BIGINT) AS n_applied_epochs
            UNION ALL
            SELECT 'pre' AS stage,
                   (SELECT count(*) FROM ids) AS n_nodes,
                   (SELECT count(*) FROM dead) AS n_tombstones,
                   CAST(
                     CAST((SELECT count(*) FROM dead) AS DOUBLE)
                       / (SELECT count(*) FROM ids) >= 0.2 AS INT
                   ) AS recommend_compact,
                   CAST(1 AS BIGINT) AS n_applied_epochs
            ORDER BY stage
        """,
        # the codec oracle: n_bytes and mean pixel intensity recomputed
        # from the closed-form pixel formula, never from the bytes
        # (header 'P6\\n8 6\\n255\\n' = 11 bytes + 8*6*3 raster = 155)
        "media_decode_features": """
            WITH grid AS (
              SELECT y.range AS y, x.range AS x, c.range AS c
              FROM range(0, 6) y, range(0, 8) x, range(0, 3) c
            )
            SELECT s.range AS media_id,
                   CAST(155 AS BIGINT) AS n_bytes,
                   printf('%.4f', avg((s.range * 31 + y * 7 + x * 13 + c * 5) % 256))
                       AS feat_mean
            FROM range(0, 40) s, grid
            GROUP BY s.range ORDER BY media_id
        """,
        # dry-run VACUUM advisor (r13): statuses + per-version time-travel
        # counts replayed relationally (two full rewrites under keep=2
        # leave exactly v0 reclaimable; the first merge inserts 20 keys)
        "vacuum_advice": """
            WITH n0 AS (
              SELECT count(*) AS n FROM documents WHERE doc_id < 150
            ), n1 AS (
              SELECT (SELECT n FROM n0)
                     + (SELECT count(*) FROM documents WHERE doc_id < 20) AS n
            )
            SELECT * FROM (
              SELECT 'kept' AS status, 1 AS version, (SELECT n FROM n1) AS n_rows
              UNION ALL
              SELECT 'kept', 2, (SELECT n FROM n1)
              UNION ALL
              SELECT 'reclaimable', 0, (SELECT n FROM n0)
            ) ORDER BY status, version
        """,
        # SQL INSERT on an indexed table (r13): the worker-rebuilt shard
        # must serve the exact brute-force answer over the upserted state
        "sql_insert_indexed_table": f"""
            WITH base AS (
              SELECT vec_id, embedding FROM embeddings WHERE vec_id < 120
            ), live AS (
              SELECT vec_id, embedding FROM base WHERE vec_id % 30 <> 0
              UNION ALL
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x * 0.5 AS FLOAT))
              FROM base WHERE vec_id % 30 = 0
              UNION ALL
              SELECT vec_id + 5000 AS vec_id, embedding
              FROM base WHERE vec_id < 8
            ), q AS (
              SELECT embedding FROM base WHERE vec_id = 9
            )
            SELECT l.vec_id,
                   round({_duck_dot("l.embedding", "(SELECT embedding FROM q)")}, 6) AS score
            FROM live l
            ORDER BY score DESC, vec_id LIMIT {KNN_K}
        """,
        # the STRING-key twin of sql_insert_merge (r13): same seed →
        # DV-delete → SQL-upsert replay, over derived string doc ids
        "sql_string_key_merge": """
            WITH base AS (
              SELECT concat('doc-', lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS k,
                     n_chars AS val, doc_id AS num
              FROM documents WHERE doc_id < 250
            ), ins AS (
              SELECT concat('doc-', lpad(CAST(range AS VARCHAR), 8, '0')) AS k,
                     range * 37 % 7919 AS val
              FROM range(200, 320)
            )
            SELECT k, val FROM ins
            UNION ALL
            SELECT b.k, b.val FROM base b
            WHERE b.num % 7 <> 0 AND b.k NOT IN (SELECT k FROM ins)
            ORDER BY k
        """,
        # seed → DV-delete → SQL upsert, replayed relationally: the insert
        # wins per key, surviving base rows are those neither deleted nor
        # upserted (a deleted-then-upserted key resurrects with new value)
        "sql_insert_merge": """
            WITH base AS (
              SELECT c_custkey AS id,
                     CAST(round(c_acctbal * 100) AS BIGINT) AS cents
              FROM customer WHERE c_custkey <= 250
            ), ins AS (
              SELECT range AS id, range * 31 % 9973 AS cents FROM range(200, 320)
            )
            SELECT id, cents FROM ins
            UNION ALL
            SELECT b.id, b.cents FROM base b
            WHERE b.id % 9 <> 0 AND b.id NOT IN (SELECT id FROM ins)
            ORDER BY id
        """,
        # identical predicates/aggregation on the raw table — pruning at
        # both levels is IO-only, so the SQL-front-door read must match
        "sql_hidden_prune": f"""
            SELECT strftime(ts, '%Y-%m-%d') AS day,
                   event_type,
                   count(*)::BIGINT AS n_events,
                   sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS value_cents
            FROM events
            WHERE ts >= TIMESTAMP '{HSK_TS_LO}' AND ts < TIMESTAMP '{HSK_TS_HI}'
              AND value >= {HSK_VAL_LO} AND value < {HSK_VAL_HI}
            GROUP BY day, event_type
            ORDER BY day, event_type
        """,
        # SQ8 replayed end-to-end in SQL: exact per-dim float min/max (cast
        # to DOUBLE before any arithmetic — FLOAT math would diverge from
        # Spark's double path), the identical clamped floor(x+0.5) encoder,
        # the same in-order ADC fold, then the exact-dot rescore of the
        # top-{SQ_CANDIDATES} candidates
        "sq_rescore_topk": f"""
            WITH bounds AS (
                SELECT i, CAST(min(v) AS DOUBLE) AS lo, CAST(max(v) AS DOUBLE) AS hi
                FROM (SELECT unnest(embedding) AS v,
                             unnest(generate_series(1, len(embedding))) AS i
                      FROM embeddings)
                GROUP BY i
            ),
            model AS (
                SELECT list(lo ORDER BY i) AS lo,
                       list((hi - lo) / 255.0 ORDER BY i) AS step
                FROM bounds
            ),
            q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {SQ_QID}),
            codes AS (
                SELECT e.vec_id,
                       list_transform(generate_series(1, 64), i ->
                           CASE WHEN m.step[i] = 0 THEN 0
                                ELSE greatest(0, least(255,
                                    CAST(floor((CAST(e.embedding[i] AS DOUBLE) - m.lo[i])
                                               / m.step[i] + 0.5) AS INTEGER)))
                           END) AS c
                FROM embeddings e, model m
            ),
            adc AS (
                SELECT c.vec_id,
                       round(list_sum(list_transform(generate_series(1, 64), i ->
                           CAST(q.qv[i] AS DOUBLE)
                           * (m.lo[i] + m.step[i] * c.c[i]))), 6) AS a
                FROM codes c, model m, q
            ),
            cand AS (SELECT vec_id FROM adc ORDER BY a DESC, vec_id LIMIT {SQ_CANDIDATES})
            SELECT e.vec_id, round({_duck_dot("e.embedding", "q.qv")}, 6) AS score
            FROM embeddings e JOIN cand USING (vec_id), q
            ORDER BY score DESC, e.vec_id LIMIT {KNN_K}
        """,
        # filtered IVF = the ivf_topk oracle + the metadata predicate; the
        # layout's dir/file pruning is IO-only, so SQL replays probe +
        # filter + scoring on the raw table
        "filtered_ivf_topk": f"""
            WITH qd AS (
                SELECT unnest(range(0, {IVF_K})) AS cell,
                       unnest([{", ".join(_duck_dot("(SELECT embedding FROM embeddings WHERE vec_id = 0)", _duck_plane_lit(c)) for c in CENTROIDS)}]) AS d
            ),
            probe AS (SELECT cell FROM qd ORDER BY d DESC, cell LIMIT {IVF_NPROBE}),
            cells AS (
                SELECT vec_id, embedding, label, {_duck_ivf_cell("embedding")} AS cell
                FROM embeddings
            )
            SELECT c.vec_id,
                   round({_duck_dot("c.embedding", "(SELECT embedding FROM embeddings WHERE vec_id = 0)")}, 6) AS score
            FROM cells c
            WHERE c.cell IN (SELECT cell FROM probe) AND c.label = {FILT_LABEL}
            ORDER BY score DESC, c.vec_id LIMIT {KNN_K}
        """,
        # MaxSim in SQL: same doc grouping (8 tokens/doc), same 4 query
        # tokens, dots folded in array order then fixed-pointed to micro
        # bigints BEFORE max/sum, so aggregation is exact integer math
        "colbert_maxsim": f"""
            WITH q AS (
                SELECT vec_id AS q_id, embedding AS qv
                FROM embeddings WHERE vec_id < {COLBERT_QTOKENS}
            ),
            d AS (
                SELECT vec_id // {COLBERT_DOCTOKENS} AS doc_id, embedding
                FROM embeddings
            ),
            dots AS (
                SELECT d.doc_id, q.q_id,
                       CAST(floor({_duck_dot("d.embedding", "q.qv")} * 1e6 + 0.5) AS BIGINT) AS m
                FROM d, q
            ),
            mx AS (SELECT doc_id, q_id, max(m) AS mx FROM dots GROUP BY doc_id, q_id)
            SELECT doc_id, sum(mx)::BIGINT AS score_micros
            FROM mx GROUP BY doc_id
            ORDER BY score_micros DESC, doc_id LIMIT {KNN_K}
        """,
        # Z-order skipping is IO-only like every pruning layout: the
        # oracle is the 2-D box predicate verbatim on raw events
        "zorder_skipping": f"""
            SELECT event_type,
                   count(*)::BIGINT AS n_events,
                   count(DISTINCT user_id)::BIGINT AS n_users,
                   sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS value_cents
            FROM events
            WHERE user_id >= {ZSK_U_LO} AND user_id < {ZSK_U_HI}
              AND value >= {ZSK_V_LO} AND value < {ZSK_V_HI}
            GROUP BY event_type
        """,
        # the full pipeline composition replayed stage-by-stage: the gopher
        # measures (verbatim from the gopher_rules oracle) gate the train
        # split, min-id-per-fingerprint dedup, shingle-hash anti-join
        # decontamination (8-gram shingles) vs the benchmark split, then the pack_sequences
        # prefix-sum layout — all folded into one summary row
        "training_pipeline_e2e": f"""
            WITH train AS (
                SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
            ),
            bench AS (
                SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
            ),
            gb AS (
                SELECT doc_id, text, {_DUCK_TOKENS} AS t,
                       string_split(text, chr(10)) AS lines
                FROM train
            ),
            gm AS (
                SELECT doc_id,
                    len(t)::BIGINT AS n_words,
                    round(list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t), 6) AS mean_word_len,
                    round(((length(text) - length(replace(text, '#', '')))
                           + (length(text) - length(replace(text, '...', ''))) / 3)::DOUBLE / len(t), 6) AS symbol_ratio,
                    round(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))::DOUBLE / len(t), 6) AS alpha_frac,
                    (list_contains(t, 'the')::INT + list_contains(t, 'be')::INT
                     + list_contains(t, 'to')::INT + list_contains(t, 'of')::INT
                     + list_contains(t, 'and')::INT + list_contains(t, 'that')::INT
                     + list_contains(t, 'have')::INT + list_contains(t, 'with')::INT)::BIGINT AS stop_hits,
                    round(len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*•]')))::DOUBLE / len(lines), 6) AS bullet_frac,
                    round(len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.\\s*$')))::DOUBLE / len(lines), 6) AS ellipsis_frac
                FROM gb
            ),
            quality AS (
                SELECT tr.doc_id, tr.text
                FROM train tr JOIN gm USING (doc_id)
                WHERE gm.n_words >= {GOPHER_MIN_WORDS} AND gm.n_words <= 100000
                  AND gm.mean_word_len >= 3.0 AND gm.mean_word_len <= 10.0
                  AND gm.symbol_ratio <= 0.1 AND gm.alpha_frac >= 0.8
                  AND gm.stop_hits >= 1 AND gm.bullet_frac <= 0.9
                  AND gm.ellipsis_frac <= 0.3
            ),
            winners AS (
                SELECT min(doc_id) AS doc_id
                FROM (SELECT doc_id,
                             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
                      FROM quality)
                GROUP BY fp
            ),
            deduped AS (
                SELECT q.doc_id, q.text FROM quality q JOIN winners USING (doc_id)
            ),
            bench_h AS (
                SELECT DISTINCT {_duck_md5_bigint("sh")} AS h
                FROM (SELECT unnest({_duck_shingles(_DUCK_TOKENS, E2E_DECONTAM_N)}) AS sh
                      FROM bench)
            ),
            contaminated AS (
                SELECT DISTINCT d.doc_id
                FROM (SELECT doc_id, {_duck_md5_bigint("sh")} AS h
                      FROM (SELECT doc_id,
                                   unnest({_duck_shingles(_DUCK_TOKENS, E2E_DECONTAM_N)}) AS sh
                            FROM deduped)) d
                JOIN bench_h USING (h)
            ),
            clean AS (
                SELECT * FROM deduped
                WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
            ),
            pt AS (
                SELECT doc_id, len({_DUCK_TOKENS})::INT AS n_tokens FROM clean
            ),
            pc AS (
                SELECT doc_id, n_tokens,
                       coalesce(sum(n_tokens) OVER (
                           ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0)::BIGINT AS s
                FROM pt
            ),
            packed AS (
                SELECT doc_id, n_tokens,
                       s // {PACK_BUDGET} AS seq_id,
                       s % {PACK_BUDGET} AS offset_in_seq,
                       (n_tokens > 0 AND
                        (s + n_tokens - 1) // {PACK_BUDGET} <> s // {PACK_BUDGET})
                           AS spans_boundary
                FROM pc
            )
            SELECT (SELECT count(*) FROM train)::BIGINT AS n_train,
                   (SELECT count(*) FROM quality)::BIGINT AS n_quality,
                   (SELECT count(*) FROM deduped)::BIGINT AS n_dedup,
                   (SELECT count(*) FROM clean)::BIGINT AS n_clean,
                   (SELECT sum(n_tokens) FROM pt)::BIGINT AS tok_clean,
                   (SELECT count(DISTINCT seq_id) FROM packed)::BIGINT AS n_seqs,
                   (SELECT sum(spans_boundary::INT) FROM packed)::BIGINT AS n_spanning,
                   (SELECT sum(doc_id * (seq_id + 1) + offset_in_seq)
                    FROM packed)::BIGINT AS pack_checksum
        """,
        # k-core: the Seidman peeling recurrence unrolled to KC_ITERS
        # rounds (fixpoint + 1 spare — proven 5 rounds at both SFs)
        "k_core": _duck_k_core_sql(KC_K, KC_ITERS),
        # personalized pagerank: the pagerank recurrence with the uniform
        # 1/N teleport replaced by the seed indicator p(v) at EVERY
        # occurrence (init, restart, dangling re-teleport)
        "personalized_pagerank": f"""
            WITH raw AS (
                SELECT 'c' || o_custkey AS src, 'p' || l_partkey AS dst
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            ),
            e AS (
                SELECT DISTINCT src, dst FROM (
                    SELECT src, dst FROM raw
                    UNION ALL SELECT dst AS src, src AS dst FROM raw
                )
            ),
            nodes AS (
                SELECT src AS node FROM e UNION SELECT dst FROM e
            ),
            pv AS (
                SELECT node,
                       CASE WHEN node IN ({", ".join(repr(x) for x in PPR_SEEDS)})
                            THEN 1.0::DOUBLE / {len(PPR_SEEDS)} ELSE 0.0 END AS p
                FROM nodes
            ),
            deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
            r0 AS (SELECT node, p AS pr FROM pv),
            c1 AS (
                SELECT e.dst AS node, sum(r0.pr / deg.deg) AS cin
                FROM e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src
                GROUP BY e.dst
            ),
            dang1 AS (
                SELECT coalesce(sum(r0.pr), 0.0) AS dm FROM r0
                LEFT JOIN deg ON r0.node = deg.src WHERE deg.src IS NULL
            ),
            r1 AS (
                SELECT pv.node,
                       (1.0::DOUBLE - {PR_DAMP!r}::DOUBLE) * pv.p
                       + {PR_DAMP!r}::DOUBLE
                         * (coalesce(c1.cin, 0.0) + dang1.dm * pv.p) AS pr
                FROM pv CROSS JOIN dang1
                LEFT JOIN c1 ON pv.node = c1.node
            ),
            c2 AS (
                SELECT e.dst AS node, sum(r1.pr / deg.deg) AS cin
                FROM e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src
                GROUP BY e.dst
            ),
            dang2 AS (
                SELECT coalesce(sum(r1.pr), 0.0) AS dm FROM r1
                LEFT JOIN deg ON r1.node = deg.src WHERE deg.src IS NULL
            ),
            r2 AS (
                SELECT pv.node,
                       (1.0::DOUBLE - {PR_DAMP!r}::DOUBLE) * pv.p
                       + {PR_DAMP!r}::DOUBLE
                         * (coalesce(c2.cin, 0.0) + dang2.dm * pv.p) AS pr
                FROM pv CROSS JOIN dang2
                LEFT JOIN c2 ON pv.node = c2.node
            )
            SELECT node, round(pr, 6) AS ppr_rank FROM r2
        """,
        # IVF-SQ8 composed: the ivf probe CTE gates which rows encode,
        # then the sq_rescore chain (full-corpus model) runs on that subset
        "ivfsq_topk": ivfsq_sql,
        # incremental maintenance serves the SAME query over a base+streamed
        # layout; encode/assign are pure functions of the frozen artifacts,
        # so the oracle is the composed probe+SQ replay verbatim
        "ivfsq_incremental": ivfsq_sql,
        "graph_walks": walks_sql,
        # final index state after 3 overlapping UPDATE-policy micro-batches
        # = one record per distinct item; the batches jointly cover every
        # doc_id residue mod 4, residues 1/2 arriving twice (an ALLOW-shaped
        # bug would duplicate them and fail the rowcount)
        "versioned_feed": """
            WITH base AS (
                SELECT c_custkey AS id,
                       CAST(round(c_acctbal * 100) AS BIGINT) AS cents
                FROM customer
            )
            SELECT id, cents, version FROM (
                SELECT id, cents, 0::BIGINT AS version FROM base WHERE id <= 100
                UNION ALL
                SELECT id, cents + 7, 1::BIGINT FROM base WHERE id <= 150
                UNION ALL
                SELECT id, cents * 2, 2::BIGINT FROM base WHERE id % 2 = 0 AND id <= 150
            ) ORDER BY version, id
        """,
        "streaming_upsert_replay": """
            SELECT DISTINCT '{"id":' || doc_id || ',"lang":"' || lang || '"}' AS item
            FROM documents
        """,
        # each user's LAST update-mode emission must equal the batch
        # groupBy; values are integral cents so cross-batch accumulation
        # is float-exact
        "stateful_totals_replay": """
            SELECT user_id, count(*) AS n_events,
                   round(sum(round(value * 100)), 6) AS total_cents
            FROM events GROUP BY user_id
        """,
        "segment_dedup": f"""
            WITH tok AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
            segs0 AS (
                SELECT doc_id,
                       list_transform(
                           generate_series(1, greatest(
                               cast(ceil(len(t) / {float(SEGDEDUP_N)!r}) AS BIGINT), 1)),
                           i -> array_to_string(
                               t[((i-1)*{SEGDEDUP_N}+1):((i-1)*{SEGDEDUP_N}+{SEGDEDUP_N})], ' ')
                       ) AS sl
                FROM tok
            ),
            segs AS (
                SELECT doc_id, unnest(sl) AS seg,
                       generate_subscripts(sl, 1) - 1 AS seg_idx
                FROM segs0
            ),
            pos AS (
                SELECT doc_id, seg, seg_idx,
                       doc_id * 1000000 + seg_idx AS p
                FROM segs
            ),
            stats AS (
                SELECT seg, count(*) AS cnt, min(p) AS first_p
                FROM pos GROUP BY seg
            ),
            keep AS (
                SELECT s.doc_id, s.seg, s.seg_idx
                FROM pos s JOIN stats st USING (seg)
                WHERE st.cnt < 2 OR s.p = st.first_p
            ),
            totals AS (
                SELECT doc_id, count(*)::BIGINT AS n_segs FROM segs GROUP BY doc_id
            ),
            kept AS (
                SELECT doc_id, count(*)::BIGINT AS n_kept,
                       md5(string_agg(seg, ' ' ORDER BY seg_idx)) AS kept_md5
                FROM keep GROUP BY doc_id
            )
            SELECT t.doc_id, t.n_segs,
                   coalesce(k.n_kept, 0)::BIGINT AS n_kept,
                   coalesce(k.kept_md5, md5('')) AS kept_md5
            FROM totals t LEFT JOIN kept k USING (doc_id)
        """,
        "rrf_fusion": f"""
            WITH dotr AS (
                SELECT vec_id,
                       round({_duck_dot("e.embedding", "(SELECT embedding FROM embeddings WHERE vec_id = 3)")}, 6) AS s
                FROM embeddings e ORDER BY s DESC, vec_id LIMIT {RRF_TOPK}
            ),
            dr AS (
                SELECT vec_id,
                       row_number() OVER (ORDER BY s DESC, vec_id) AS r
                FROM dotr
            ),
            cosr AS (
                SELECT vec_id,
                       round({_duck_dot("e.embedding", "(SELECT embedding FROM embeddings WHERE vec_id = 3)")}
                             / ({_duck_list_norm("e.embedding")}
                                * {_duck_list_norm("(SELECT embedding FROM embeddings WHERE vec_id = 3)")}), 6) AS s
                FROM embeddings e ORDER BY s DESC, vec_id LIMIT {RRF_TOPK}
            ),
            cr AS (
                SELECT vec_id,
                       row_number() OVER (ORDER BY s DESC, vec_id) AS r
                FROM cosr
            ),
            u AS (
                SELECT vec_id,
                       CAST(1.0 AS DOUBLE) / (CAST({float(RRF_K)!r} AS DOUBLE) + r) AS c
                FROM dr
                UNION ALL
                SELECT vec_id,
                       CAST(1.0 AS DOUBLE) / (CAST({float(RRF_K)!r} AS DOUBLE) + r) AS c
                FROM cr
            )
            SELECT vec_id, round(sum(c), 6) AS rrf_score,
                   count(*)::BIGINT AS n_lists
            FROM u GROUP BY vec_id
        """,
        # all events exactly once despite the redelivered batch — a broken
        # dedup inflates counts and fails the hash
        "stream_dedup_replay": """
            SELECT event_type, count(*)::BIGINT AS n_events,
                   round(sum(round(value * 100)), 6) AS total_cents
            FROM events GROUP BY event_type
        """,
        # the streaming emitted set must equal the batch time-bounded join
        "stream_join_replay": """
            SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id
            FROM events p JOIN events v
              ON p.user_id = v.user_id
             AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
            WHERE p.event_type = 'purchase' AND v.event_type = 'view'
              AND p.user_id % 3 = 0
        """,
        # rank quantities are half-integers (exact doubles), so even the
        # rank-sum statistic hash-matches bitwise
        "ab_mann_whitney": f"""
            WITH armed AS (
                SELECT round(value, 2) AS v,
                       CASE WHEN ({_DUCK_MD5_BIGINT.format(expr="'ab:' || CAST(user_id AS VARCHAR)")} % 2) = 0
                            THEN 'A' ELSE 'B' END AS arm
                FROM events WHERE user_id IS NOT NULL
            ),
            per AS (
                SELECT v, count(*)::BIGINT AS cnt,
                       sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END)::BIGINT AS a
                FROM armed GROUP BY v
            ),
            ranked AS (
                SELECT v, cnt, a,
                       coalesce(sum(cnt) OVER (
                           ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0)::BIGINT AS bef
                FROM per
            ),
            agg AS (
                SELECT sum(a)::BIGINT AS n_a,
                       sum(cnt - a)::BIGINT AS n_b,
                       sum(a * (bef::DOUBLE + (cnt + 1) / 2.0)) AS r_a,
                       sum(cnt * cnt * cnt - cnt)::BIGINT AS tsum
                FROM ranked
            ),
            fin AS (
                SELECT n_a, n_b, r_a, tsum,
                       n_a::DOUBLE AS na, n_b::DOUBLE AS nb,
                       n_a::DOUBLE + n_b::DOUBLE AS n
                FROM agg
            )
            SELECT n_a, n_b,
                   round(r_a - na * (na + 1) / 2.0, 6) AS u_stat,
                   round((r_a - na * (na + 1) / 2.0 - na * nb / 2.0)
                         / sqrt(nullif(
                               na * nb / 12.0
                               * ((n + 1) - tsum / (n * (n - 1))), 0.0)), 6)
                       AS zscore
            FROM fin
        """,
        "wow_growth": """
            WITH m AS (
                SELECT event_type,
                       (year(ts) * 100 + weekofyear(ts))::INT AS yw,
                       count(*)::BIGINT AS n
                FROM events GROUP BY 1, 2
            )
            SELECT event_type, yw, n,
                   round(n / lag(n) OVER (
                       PARTITION BY event_type ORDER BY yw)::DOUBLE - 1.0, 6)
                       AS wow_growth
            FROM m
        """,
        "dedup_rate_by_source": """
            WITH d AS (
                SELECT doc_id, source,
                       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
                FROM documents
            ),
            w AS (SELECT fp, min(doc_id) AS win FROM d GROUP BY fp)
            SELECT d.source, count(*)::BIGINT AS n_docs,
                   sum(CASE WHEN d.doc_id = w.win THEN 1 ELSE 0 END)::BIGINT
                       AS n_kept,
                   round(1.0 - sum(CASE WHEN d.doc_id = w.win THEN 1 ELSE 0 END)
                               / count(*)::DOUBLE, 6) AS dup_rate
            FROM d JOIN w USING (fp) GROUP BY d.source
        """,
        # PIT join = interval containment against the reconstructed SCD2
        # history; empty [t, t) versions are never in force on either side
        "pit_join": """
            WITH o AS (
                SELECT user_id, event_type, ts, event_id,
                       lag(event_type) OVER w AS prev,
                       row_number() OVER w AS rn
                FROM events WHERE user_id IS NOT NULL
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            tr AS (
                SELECT user_id, event_type, ts, event_id FROM o
                WHERE rn = 1 OR event_type IS DISTINCT FROM prev
            ),
            hist AS (
                SELECT user_id, event_type, ts AS vfrom,
                       lead(ts) OVER w2 AS vto
                FROM tr
                WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            live AS (
                SELECT * FROM hist WHERE vto IS NULL OR vfrom < vto
            ),
            facts AS (
                SELECT user_id, event_id, ts + INTERVAL 30 MINUTE AS fts
                FROM events WHERE user_id IS NOT NULL
            )
            SELECT f.event_id, f.user_id,
                   floor(epoch(f.fts))::BIGINT AS fts,
                   h.event_type AS status_pit,
                   floor(epoch(h.vfrom))::BIGINT AS valid_from_pit
            FROM facts f LEFT JOIN live h
              ON f.user_id = h.user_id
             AND h.vfrom <= f.fts
             AND (h.vto IS NULL OR f.fts < h.vto)
        """,
        # recursive-CTE replay of the CUSUM max-reset recurrence; mu/sigma
        # derive from exact integer sums so both engines run bitwise-equal
        # floats; alert compares the UNROUNDED statistic like the operator
        "cusum_alerts": f"""
            WITH RECURSIVE daily AS (
                SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS x
                FROM events GROUP BY 1, 2
            ),
            days AS (
                SELECT event_type,
                       (d - DATE '1970-01-01')::INT AS day, x,
                       row_number() OVER (
                           PARTITION BY event_type ORDER BY d) AS rn
                FROM daily
            ),
            params AS (
                SELECT event_type, count(*) AS n,
                       sum(x)::DOUBLE / count(*) AS mu,
                       CASE WHEN count(*) > 1 AND
                                 (sum(x * x)::DOUBLE
                                  - count(*) * (sum(x)::DOUBLE / count(*))
                                    * (sum(x)::DOUBLE / count(*)))
                                 / (count(*) - 1) > 0
                            THEN sqrt((sum(x * x)::DOUBLE
                                  - count(*) * (sum(x)::DOUBLE / count(*))
                                    * (sum(x)::DOUBLE / count(*)))
                                 / (count(*) - 1))
                            ELSE 0.0 END AS sigma
                FROM days GROUP BY event_type
            ),
            rec AS (
                SELECT d.event_type, d.rn, d.day, d.x,
                       greatest(0.0,
                           (CASE WHEN p.sigma = 0 THEN 0.0
                                 ELSE (d.x - p.mu) / p.sigma END)
                           - {CUSUM_K!r}) AS s
                FROM days d JOIN params p USING (event_type)
                WHERE d.rn = 1
                UNION ALL
                SELECT d.event_type, d.rn, d.day, d.x,
                       greatest(0.0, r.s
                           + (CASE WHEN p.sigma = 0 THEN 0.0
                                   ELSE (d.x - p.mu) / p.sigma END)
                           - {CUSUM_K!r}) AS s
                FROM rec r
                JOIN days d ON d.event_type = r.event_type AND d.rn = r.rn + 1
                JOIN params p ON p.event_type = d.event_type
            )
            SELECT event_type, day, x::BIGINT AS x,
                   round(s, 6) AS cusum, (s > {CUSUM_H!r}) AS alert
            FROM rec
        """,
        "media_shared_frames": """
            WITH m AS (
                SELECT doc_id AS media_id, text FROM documents
                WHERE octet_length(encode(text)) = length(text)
            ),
            ex AS (
                SELECT media_id, text,
                       unnest(range(0, greatest(
                           ceil(length(text)::DOUBLE / 64)::INT, 1)))::INT AS i
                FROM m
            ),
            d AS (
                SELECT DISTINCT media_id,
                       md5(substring(text, i * 64 + 1, 64)) AS h
                FROM ex
            )
            SELECT a.media_id AS id_a, b.media_id AS id_b,
                   count(*)::BIGINT AS n_shared
            FROM d a JOIN d b ON a.h = b.h AND a.media_id < b.media_id
            GROUP BY 1, 2 HAVING count(*) >= 2
        """,
        "window_distinct_users": f"""
            WITH b AS (
                SELECT (floor(epoch(ts) / 21600) * 21600)::BIGINT AS wstart, user_id
                FROM events WHERE user_id IS NOT NULL
            ),
            h AS (
                SELECT wstart,
                       (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::UBIGINT)::BIGINT AS hv
                FROM b
            ),
            r AS (
                SELECT wstart, hv >> 48 AS idx,
                       hv & ((1::BIGINT << 48) - 1) AS rem
                FROM h
            ),
            regs AS (
                SELECT wstart, idx,
                       max(CASE WHEN rem = 0 THEN 49 ELSE 49 - length(bin(rem)) END) AS rho
                FROM r GROUP BY wstart, idx
            ),
            f AS (
                SELECT wstart, sum(power(2.0, -rho)) AS ps, count(*) AS np
                FROM regs GROUP BY wstart
            ),
            est AS (
                SELECT wstart, CASE
                    WHEN {C_HLL!r} / (ps + (4096 - np)) <= 10240.0 AND np < 4096
                    THEN 4096.0 * ln(4096.0 / (4096 - np))
                    ELSE {C_HLL!r} / (ps + (4096 - np))
                END AS e FROM f
            ),
            ex AS (
                SELECT wstart, count(DISTINCT user_id) AS exact_distinct
                FROM b GROUP BY wstart
            )
            SELECT est.wstart, round(est.e, 3) AS approx_distinct, ex.exact_distinct
            FROM est JOIN ex USING (wstart)
        """,
        "quality_calibration": f"""
            WITH base AS (
                SELECT doc_id, source, {_DUCK_TOKENS} AS toks, text FROM documents
            ),
            feat AS (
                SELECT doc_id, source,
                       len(list_filter(toks, x -> list_contains([{", ".join("'" + w + "'" for w in T.STOPWORDS_EN)}], x)))::DOUBLE
                           / greatest(len(toks), 1) AS sw,
                       (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                           / greatest(length(text), 1) AS pr,
                       list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                           / greatest(len(toks), 1) AS mtl
                FROM base
            ),
            q AS (
                SELECT doc_id, source,
                       round(least(sw * 4.0, 1.0) * 0.5
                             + (1.0 - least(pr * 5.0, 1.0)) * 0.3
                             + (CASE WHEN mtl >= 3.0 AND mtl <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.2,
                             6) AS quality
                FROM feat
            )
            SELECT doc_id, source, quality,
                   round(percent_rank() OVER (
                       PARTITION BY source ORDER BY quality, doc_id), 6) AS qnorm
            FROM q
        """,
        "khop_frontier": """
            WITH raw AS (
                SELECT 'c' || o_custkey AS src, 'p' || l_partkey AS dst
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            ),
            e AS (
                SELECT DISTINCT src, dst FROM (
                    SELECT src, dst FROM raw
                    UNION ALL SELECT dst AS src, src AS dst FROM raw
                )
            ),
            h0 AS (
                SELECT DISTINCT 'c' || o_custkey AS node
                FROM orders WHERE o_custkey < 3
            ),
            h1 AS (
                SELECT DISTINCT e.dst AS node
                FROM e JOIN h0 ON e.src = h0.node
                WHERE e.dst NOT IN (SELECT node FROM h0)
            ),
            h2 AS (
                SELECT DISTINCT e.dst AS node
                FROM e JOIN h1 ON e.src = h1.node
                WHERE e.dst NOT IN (SELECT node FROM h0)
                  AND e.dst NOT IN (SELECT node FROM h1)
            )
            SELECT node, 0 AS hop FROM h0
            UNION ALL SELECT node, 1 FROM h1
            UNION ALL SELECT node, 2 FROM h2
        """,
        "observed_metrics": """
            SELECT count(*)::BIGINT AS n_rows,
                   sum(CASE WHEN value < 50 THEN 1 ELSE 0 END)::BIGINT AS n_null,
                   round(sum(CASE WHEN value < 50 THEN NULL ELSE value END), 2)
                       AS sum_value
            FROM events
        """,
        "filtered_knn": f"""
            SELECT e.vec_id,
                   round({_duck_dot("e.embedding", "(SELECT embedding FROM embeddings WHERE vec_id = 11)")}, 6) AS score
            FROM embeddings e
            WHERE e.vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en')
            ORDER BY score DESC, e.vec_id LIMIT {KNN_K}
        """,
        "hybrid_search": f"""
            WITH base AS (
                SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents
            ),
            lens AS (SELECT doc_id, len(toks) AS doclen, toks FROM base),
            stats AS (SELECT count(*) AS n_docs, avg(doclen) AS avgdl FROM lens),
            tok AS (SELECT doc_id, doclen, unnest(toks) AS tok FROM lens),
            tf AS (
                SELECT doc_id, tok, count(*) AS tf, first(doclen) AS doclen
                FROM tok WHERE tok IN ({", ".join(repr(t) for t in BM25_TERMS)})
                GROUP BY doc_id, tok
            ),
            dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
            scored AS (
                SELECT tf.doc_id,
                       ln(1.0::DOUBLE + (stats.n_docs - dfq.df + 0.5::DOUBLE)
                                        / (dfq.df + 0.5::DOUBLE))
                       * tf.tf * {BM25_K1 + 1.0}::DOUBLE
                       / (tf.tf + {BM25_K1}::DOUBLE
                          * (1.0::DOUBLE - {BM25_B}::DOUBLE
                             + {BM25_B}::DOUBLE * tf.doclen / stats.avgdl)) AS s
                FROM tf JOIN dfq USING (tok), stats
            ),
            lex AS (
                SELECT doc_id, round(sum(s), 6) AS bm25
                FROM scored GROUP BY doc_id
                ORDER BY bm25 DESC, doc_id LIMIT {RRF_TOPK}
            ),
            lexr AS (
                SELECT doc_id,
                       row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
                FROM lex
            ),
            den AS (
                SELECT vec_id AS doc_id,
                       round({_duck_dot("e.embedding", "(SELECT embedding FROM embeddings WHERE vec_id = 5)")}, 6) AS score
                FROM embeddings e
                ORDER BY score DESC, vec_id LIMIT {RRF_TOPK}
            ),
            denr AS (
                SELECT doc_id,
                       row_number() OVER (ORDER BY score DESC, doc_id) AS r
                FROM den
            ),
            u AS (
                SELECT doc_id,
                       CAST(1.0 AS DOUBLE) / (CAST({float(RRF_K)!r} AS DOUBLE) + r) AS c
                FROM lexr
                UNION ALL
                SELECT doc_id,
                       CAST(1.0 AS DOUBLE) / (CAST({float(RRF_K)!r} AS DOUBLE) + r) AS c
                FROM denr
            )
            SELECT doc_id, round(sum(c), 6) AS rrf_score,
                   count(*)::BIGINT AS n_lists
            FROM u GROUP BY doc_id
        """,
        "zipf_fit": f"""
            WITH tok AS (
                SELECT lang, unnest({_DUCK_TOKENS}) AS tk FROM documents
            ),
            counts AS (
                SELECT lang, tk, count(*) AS cnt FROM tok GROUP BY lang, tk
            ),
            ranked AS (
                SELECT lang, cnt,
                       row_number() OVER (
                           PARTITION BY lang ORDER BY cnt DESC, tk) AS r
                FROM counts
            ),
            f AS (
                SELECT lang, ln(cnt::DOUBLE) AS lf, ln(r::DOUBLE) AS lr
                FROM ranked WHERE r <= 1000
            )
            SELECT lang, count(*)::BIGINT AS n_types,
                   round(covar_pop(lf, lr) / nullif(var_pop(lr), 0.0), 6)
                       AS zipf_slope,
                   round(covar_samp(lf, lr)
                         / nullif(stddev_samp(lf) * stddev_samp(lr), 0.0), 6)
                       AS zipf_r
            FROM f GROUP BY lang
        """,
        "filter_projection": "SELECT doc_id, text FROM documents WHERE lang = 'en'",
        "count_records": """
            SELECT (SELECT count(*) FROM embeddings) AS n_embeddings,
                   (SELECT count(*) FROM documents) AS n_documents
        """,
        "topk_orders": """
            SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
            FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
        """,
        "upsert_update_demo": """
            WITH new AS (
                SELECT doc_id, 'updated: ' || text AS text FROM documents WHERE doc_id < 10
            )
            SELECT d.doc_id, d.text FROM documents d
            WHERE d.doc_id NOT IN (SELECT doc_id FROM new)
            UNION ALL SELECT doc_id, text FROM new
        """,
        "delete_ops_demo": """
            SELECT doc_id, text FROM documents
            WHERE text NOT IN (SELECT text FROM documents WHERE doc_id = 0)
              AND doc_id NOT IN (1, 2, 3, 4, 5)
        """,
        "skip_policy_demo": """
            WITH batch AS (
                SELECT CASE WHEN doc_id < 5 THEN doc_id ELSE doc_id + 1000 END AS doc_id,
                       'incoming: ' || text AS text
                FROM documents WHERE doc_id < 10
            )
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT b.doc_id, b.text FROM batch b
            WHERE b.doc_id NOT IN (SELECT doc_id FROM documents)
        """,
        "allow_policy_demo": """
            WITH u AS (
                SELECT doc_id FROM documents
                UNION ALL
                SELECT doc_id FROM documents WHERE doc_id < 10
            )
            SELECT doc_id, count(*) AS n_copies FROM u GROUP BY doc_id
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_extendedprice), 6) AS avg_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-03-15'
              AND l_shipdate > TIMESTAMP '1995-03-15'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey LIMIT 10
        """,
        "q5_local_supplier_volume": """
            SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND c_nationkey = s_nationkey
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY n_name
        """,
        "filter_predicates": """
            SELECT p_partkey, p_name, p_brand, p_type, p_size FROM part
            WHERE p_size >= 10 AND p_size < 40
              AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
              AND p_type LIKE 'S%' AND p_name IS NOT NULL
        """,
        "join_semi_anti": """
            SELECT c_custkey,
                   CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS has_orders
            FROM customer c
            LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
              ON c.c_custkey = o.o_custkey
        """,
        "agg_having": """
            SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_spend
            FROM orders GROUP BY o_custkey HAVING count(*) > 12
        """,
        "rollup_nation_region": """
            SELECT r_name, n_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS sum_acctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)
        """,
        "cube_flags": """
            SELECT l_returnflag, l_linestatus, count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "window_running_sum": """
            SELECT o_custkey, o_orderkey,
                   round(sum(o_totalprice) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
                   row_number() OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq
            FROM orders
        """,
        "window_rank_lag": """
            WITH w AS (
                SELECT c_mktsegment, c_custkey,
                       rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS bal_rank,
                       round(lag(c_acctbal, 1) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey), 2) AS prev_bal,
                       round(lead(c_acctbal, 1) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey), 2) AS next_bal
                FROM customer
            )
            SELECT * FROM w WHERE bal_rank <= 5
        """,
        "set_ops_nations": """
            WITH c AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
                 s AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
            SELECT nk, 'both' AS tag FROM (SELECT nk FROM c INTERSECT SELECT nk FROM s)
            UNION ALL
            SELECT nk, 'cust_only' AS tag FROM (SELECT nk FROM c EXCEPT SELECT nk FROM s)
            UNION ALL
            SELECT nk, 'supp_only' AS tag FROM (SELECT nk FROM s EXCEPT SELECT nk FROM c)
        """,
        "string_functions": """
            SELECT doc_id,
                   upper(substr(text, 1, 10)) AS head_upper,
                   length(text) AS text_len,
                   len(string_split(text, ' ')) AS n_words,
                   substr(regexp_replace(text, '\\s+', '_', 'g'), 1, 20) AS norm_head,
                   lang || ':' || source AS lang_source
            FROM documents
        """,
        "date_functions": """
            SELECT year(o_orderdate) AS order_year, month(o_orderdate) AS order_month,
                   count(*) AS n_orders, round(sum(o_totalprice), 2) AS monthly_revenue
            FROM orders GROUP BY 1, 2
        """,
        "json_functions": """
            SELECT event_type, count(*) AS n_events,
                   round(avg(CAST(props->>'$.k' AS INT)), 6) AS avg_k,
                   max(CAST(props->>'$.k' AS INT)) AS max_k
            FROM events GROUP BY event_type
        """,
        "math_case_functions": """
            SELECT l_orderkey, l_linenumber,
                   round(sqrt(l_extendedprice), 6) AS sqrt_price,
                   round(pow(l_discount + 1.0, 2), 6) AS disc_sq,
                   abs(l_quantity - 25) AS qty_dev,
                   floor(l_extendedprice)::BIGINT AS price_floor,
                   ceil(l_extendedprice)::BIGINT AS price_ceil,
                   CASE WHEN l_quantity < 10 THEN 'low'
                        WHEN l_quantity < 30 THEN 'mid'
                        ELSE 'high' END AS qty_bucket
            FROM lineitem WHERE l_orderkey <= 100
        """,
        "distinct_counts": """
            SELECT l_returnflag,
                   count(DISTINCT l_partkey) AS n_parts,
                   count(DISTINCT l_suppkey) AS n_supps,
                   count(*) AS n_rows
            FROM lineitem GROUP BY l_returnflag
        """,
        "events_tumbling_windows": """
            SELECT epoch(time_bucket(INTERVAL '1 hour', ts))::BIGINT AS window_start,
                   event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "scalar_subquery": """
            SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
            FROM orders o
            WHERE o_totalprice > (
                SELECT min(o2.o_totalprice) FROM orders o2
                WHERE o2.o_custkey = o.o_custkey
            )
        """,
        "null_semantics": """
            WITH t AS (
                SELECT event_type,
                       CASE WHEN value < 50 THEN NULL ELSE value END AS v1,
                       CASE WHEN value >= 450 THEN NULL ELSE value END AS v2
                FROM events
            )
            SELECT event_type,
                   count(*) AS n_rows,
                   count(v1) AS n_v1,
                   round(sum(coalesce(v1, v2, 0.0::DOUBLE)), 2) AS sum_coalesced,
                   sum(CASE WHEN v1 IS NOT DISTINCT FROM v2 THEN 1 ELSE 0 END)::BIGINT AS n_nullsafe_eq,
                   sum(CASE WHEN v1 IS NULL AND v2 IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_both_null
            FROM t GROUP BY event_type
        """,
        "agg_modern": """
            SELECT event_type,
                   round(median(value), 6) AS median_value,
                   count_if(value > 250.0)::BIGINT AS n_big,
                   bool_and(value >= 0.0) AS all_nonneg,
                   bool_or(value > 480.0) AS any_huge
            FROM events GROUP BY event_type
        """,
        "array_hof": """
            SELECT vec_id,
                   len(list_filter(embedding, x -> x > 0))::INT AS n_pos,
                   round(list_sum(list_transform(embedding,
                       x -> CASE WHEN x > 0 THEN CAST(x AS DOUBLE) ELSE 0.0 END)), 6) AS sum_pos,
                   round(list_aggregate(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE))), 'max'), 6) AS max_abs,
                   len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0.3)) > 0 AS has_big
            FROM embeddings WHERE vec_id < 200
        """,
        "events_sliding_windows": """
            WITH t AS (SELECT floor(epoch(ts))::BIGINT AS tse, value FROM events),
            e AS (
                SELECT value,
                       unnest([(tse // 3600) * 3600 - 3600, (tse // 3600) * 3600]) AS window_start
                FROM t
            )
            SELECT window_start, count(*) AS n_events, round(avg(value), 6) AS avg_value
            FROM e GROUP BY window_start
        """,
        # per-group HLL: the same md5-register formula as hll_users, keyed
        # by event_type — both engines compute identical registers so the
        # approximate values hash-match exactly
        "hll_by_group": f"""
            WITH h AS (
                SELECT event_type,
                       (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::UBIGINT)::BIGINT AS hv
                FROM events WHERE user_id IS NOT NULL
            ),
            r AS (
                SELECT event_type, hv >> 48 AS idx,
                       hv & ((1::BIGINT << 48) - 1) AS rem
                FROM h
            ),
            regs AS (
                SELECT event_type, idx,
                       max(CASE WHEN rem = 0 THEN 49 ELSE 49 - length(bin(rem)) END) AS rho
                FROM r GROUP BY event_type, idx
            ),
            f AS (
                SELECT event_type, sum(power(2.0, -rho)) AS ps, count(*) AS np
                FROM regs GROUP BY event_type
            ),
            est AS (
                SELECT event_type, CASE
                    WHEN {C_HLL!r} / (ps + (4096 - np)) <= 10240.0 AND np < 4096
                    THEN 4096.0 * ln(4096.0 / (4096 - np))
                    ELSE {C_HLL!r} / (ps + (4096 - np))
                END AS e FROM f
            ),
            ex AS (
                SELECT event_type, count(DISTINCT user_id) AS exact_distinct
                FROM events GROUP BY event_type
            )
            SELECT est.event_type, round(est.e, 3) AS approx_distinct, ex.exact_distinct
            FROM est JOIN ex USING (event_type)
        """,
        "hll_users": f"""
            WITH h AS (
                SELECT (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::UBIGINT)::BIGINT AS hv
                FROM events WHERE user_id IS NOT NULL
            ),
            r AS (SELECT hv >> 48 AS idx, hv & ((1::BIGINT << 48) - 1) AS rem FROM h),
            regs AS (
                SELECT idx, max(CASE WHEN rem = 0 THEN 49 ELSE 49 - length(bin(rem)) END) AS rho
                FROM r GROUP BY idx
            ),
            f AS (SELECT sum(power(2.0, -rho)) AS ps, count(*) AS np FROM regs),
            est AS (
                SELECT CASE
                    WHEN {C_HLL!r} / (ps + (4096 - np)) <= 10240.0 AND np < 4096
                    THEN 4096.0 * ln(4096.0 / (4096 - np))
                    ELSE {C_HLL!r} / (ps + (4096 - np))
                END AS e FROM f
            )
            SELECT round(e, 3) AS approx_distinct,
                   (SELECT count(DISTINCT user_id) FROM events) AS exact_distinct
            FROM est
        """,
        "stream_hll_replay": f"""
            WITH h AS (
                SELECT (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::UBIGINT)::BIGINT AS hv
                FROM events WHERE user_id IS NOT NULL
            ),
            r AS (SELECT hv >> 48 AS idx, hv & ((1::BIGINT << 48) - 1) AS rem FROM h),
            regs AS (
                SELECT idx, max(CASE WHEN rem = 0 THEN 49 ELSE 49 - length(bin(rem)) END) AS rho
                FROM r GROUP BY idx
            ),
            f AS (SELECT sum(power(2.0, -rho)) AS ps, count(*) AS np FROM regs),
            est AS (
                SELECT CASE
                    WHEN {C_HLL!r} / (ps + (4096 - np)) <= 10240.0 AND np < 4096
                    THEN 4096.0 * ln(4096.0 / (4096 - np))
                    ELSE {C_HLL!r} / (ps + (4096 - np))
                END AS e FROM f
            )
            SELECT round(e, 3) AS approx_distinct FROM est
        """,
        "cms_freq": f"""
            WITH tok AS (SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents),
            rs AS (SELECT unnest([{", ".join(str(r) for r in range(CMS_DEPTH))}]) AS r),
            h AS (
                SELECT r,
                       (('0x' || substr(md5('cms' || r::VARCHAR || ':' || tok), 1, 15))::UBIGINT
                        % {CMS_WIDTH})::BIGINT AS b
                FROM tok CROSS JOIN rs
            ),
            sk AS (SELECT r, b, count(*) AS n FROM h GROUP BY r, b),
            probes(value) AS (VALUES {", ".join("('" + p + "')" for p in CMS_PROBES)}),
            ph AS (
                SELECT value, r,
                       (('0x' || substr(md5('cms' || r::VARCHAR || ':' || value), 1, 15))::UBIGINT
                        % {CMS_WIDTH})::BIGINT AS b
                FROM probes CROSS JOIN rs
            ),
            est AS (
                SELECT value, min(coalesce(n, 0))::BIGINT AS est
                FROM ph LEFT JOIN sk USING (r, b) GROUP BY value
            ),
            exact AS (
                SELECT tok AS value, count(*) AS exact_n FROM tok
                WHERE tok IN ({", ".join("'" + p + "'" for p in CMS_PROBES)})
                GROUP BY tok
            )
            SELECT value, est, coalesce(exact_n, 0)::BIGINT AS exact_n
            FROM est LEFT JOIN exact USING (value)
        """,
        "cms_join_size": f"""
            WITH rs AS (SELECT unnest([{", ".join(str(r) for r in range(CMS_DEPTH))}]) AS r),
            sa AS (
                SELECT r,
                       (('0x' || substr(md5('cms' || r::VARCHAR || ':' || o_custkey::VARCHAR), 1, 15))::UBIGINT
                        % {CMS_WIDTH})::BIGINT AS b,
                       count(*) AS n
                FROM orders CROSS JOIN rs GROUP BY 1, 2
            ),
            sb AS (
                SELECT r,
                       (('0x' || substr(md5('cms' || r::VARCHAR || ':' || c_custkey::VARCHAR), 1, 15))::UBIGINT
                        % {CMS_WIDTH})::BIGINT AS b,
                       count(*) AS n
                FROM customer CROSS JOIN rs GROUP BY 1, 2
            ),
            ip AS (
                SELECT sa.r, sum(sa.n * sb.n) AS ip
                FROM sa JOIN sb ON sa.r = sb.r AND sa.b = sb.b GROUP BY sa.r
            ),
            anchored AS (
                SELECT rs.r, coalesce(ip, 0) AS ip FROM rs LEFT JOIN ip ON rs.r = ip.r
            )
            SELECT coalesce(min(ip), 0)::BIGINT AS est_join_size,
                   (SELECT count(*) FROM orders o JOIN customer c
                    ON o.o_custkey = c.c_custkey) AS exact_join_size
            FROM anchored
        """,
        "bloom_screen": f"""
            WITH fp AS (
                SELECT doc_id,
                       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
                FROM documents
            ),
            corpus AS (SELECT * FROM fp WHERE doc_id % 3 != 0),
            rs AS (SELECT unnest([{", ".join(str(r) for r in range(BLOOM_K))}]) AS r),
            bits AS (
                SELECT DISTINCT
                       (('0x' || substr(md5('bloom' || r::VARCHAR || ':' || fp), 1, 15))::UBIGINT
                        % {BLOOM_M})::BIGINT AS bit
                FROM corpus CROSS JOIN rs
            ),
            probe AS (
                SELECT f.doc_id,
                       (('0x' || substr(md5('bloom' || r::VARCHAR || ':' || f.fp), 1, 15))::UBIGINT
                        % {BLOOM_M})::BIGINT AS bit
                FROM fp f CROSS JOIN rs
            ),
            memb AS (
                SELECT p.doc_id,
                       min(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) = 1 AS maybe_member
                FROM probe p LEFT JOIN bits b ON p.bit = b.bit
                GROUP BY p.doc_id
            ),
            seen AS (
                SELECT count(*) AS exact_seen FROM fp
                WHERE fp IN (SELECT fp FROM corpus)
            )
            SELECT count(*)::BIGINT AS n_batch,
                   sum(CASE WHEN NOT maybe_member THEN 1 ELSE 0 END)::BIGINT AS definitely_new,
                   sum(CASE WHEN maybe_member THEN 1 ELSE 0 END)::BIGINT AS maybe_seen,
                   (count(*) - any_value(exact_seen))::BIGINT AS exact_new
            FROM memb CROSS JOIN seen
        """,
        "quality_filter": f"""
            WITH base AS (
                SELECT source, {_DUCK_TOKENS} AS toks, text FROM documents
            ),
            feat AS (
                SELECT source,
                       len(list_filter(toks, x -> list_contains([{", ".join("'" + w + "'" for w in T.STOPWORDS_EN)}], x)))::DOUBLE
                           / greatest(len(toks), 1) AS sw,
                       (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                           / greatest(length(text), 1) AS pr,
                       list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                           / greatest(len(toks), 1) AS mtl
                FROM base
            ),
            q AS (
                SELECT source,
                       round(least(sw * 4.0, 1.0) * 0.5
                             + (1.0 - least(pr * 5.0, 1.0)) * 0.3
                             + (CASE WHEN mtl >= 3.0 AND mtl <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.2,
                             6) AS quality
                FROM feat
            ),
            b AS (
                SELECT source,
                       least(greatest(floor((quality - 0.0) / {QUAL_W!r}), 0), {QUAL_BINS - 1})::INT AS bin,
                       quality
                FROM q
            ),
            h AS (
                SELECT source, bin, count(*) AS n,
                       round((0.0 + bin * {QUAL_W!r})::DOUBLE, 6) AS bin_lo
                FROM b GROUP BY 1, 2
            ),
            c AS (
                SELECT source, bin_lo,
                       sum(n) OVER (PARTITION BY source ORDER BY bin
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                       sum(n) OVER (PARTITION BY source) AS total
                FROM h
            ),
            thr AS (
                SELECT source, min(CASE WHEN cum >= {QUAL_Q!r} * total THEN bin_lo END) AS threshold
                FROM c GROUP BY source
            ),
            tot AS (SELECT source, count(*)::BIGINT AS n_total FROM q GROUP BY source),
            kept AS (
                SELECT q.source, count(*)::BIGINT AS n_kept
                FROM q JOIN thr ON q.source = thr.source
                WHERE q.quality >= thr.threshold
                GROUP BY q.source
            )
            SELECT source, threshold, n_total, coalesce(n_kept, 0)::BIGINT AS n_kept
            FROM tot LEFT JOIN kept USING (source) LEFT JOIN thr USING (source)
        """,
        "containment_pairs": f"""
            WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
            shx AS (
                SELECT doc_id, unnest(list_distinct({sh})) AS shingle FROM toks
            ),
            sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shx GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
                FROM shx a JOIN shx b ON a.shingle = b.shingle AND a.doc_id != b.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(common::DOUBLE / sa.n_shingles, 6) AS containment
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            WHERE round(common::DOUBLE / sa.n_shingles, 6) >= {CONTAIN_T}
        """,
        "psi_drift": f"""
            WITH r AS (
                SELECT least(greatest(floor((value - {HISTO_LO!r}) / {(HISTO_HI - HISTO_LO) / HISTO_BINS!r}), 0), {HISTO_BINS - 1})::INT AS bin
                FROM events WHERE event_id % 2 = 0
            ),
            cc AS (
                SELECT least(greatest(floor((value - {HISTO_LO!r}) / {(HISTO_HI - HISTO_LO) / HISTO_BINS!r}), 0), {HISTO_BINS - 1})::INT AS bin
                FROM events WHERE event_id % 2 = 1
            ),
            hr AS (SELECT bin, count(*) AS n_ref FROM r GROUP BY bin),
            hc AS (SELECT bin, count(*) AS n_cur FROM cc GROUP BY bin),
            j AS (
                SELECT coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
                FROM hr FULL OUTER JOIN hc USING (bin)
            ),
            t AS (SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM j),
            terms AS (
                SELECT greatest(n_ref / t_ref, 1e-06) AS p,
                       greatest(n_cur / t_cur, 1e-06) AS q,
                       n_ref, n_cur
                FROM j CROSS JOIN t
            )
            SELECT round(sum((q - p) * ln(q / p)), 6) AS psi,
                   sum(n_ref)::BIGINT AS n_ref,
                   sum(n_cur)::BIGINT AS n_cur
            FROM terms
        """,
        "embedding_covariance": "\nUNION ALL\n".join(
            f"""SELECT {i} AS i, {j} AS j,
                round(covar_pop(embedding[{i + 1}]::DOUBLE, embedding[{j + 1}]::DOUBLE), 6) AS cov
                FROM embeddings"""
            for i in range(COV_DIMS)
            for j in range(i, COV_DIMS)
        ),
        "bloom_join": f"""
            SELECT o.o_orderpriority,
                   count(*)::BIGINT AS n_items,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
            FROM lineitem l
            JOIN (SELECT o_orderkey, o_orderpriority FROM orders
                  WHERE o_totalprice > {BLOOM_JOIN_PRICE!r}) o
              ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderpriority
        """,
        "hll_set_ops": f"""
            WITH ha AS (
                SELECT (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::UBIGINT)::BIGINT AS hv
                FROM events WHERE user_id IS NOT NULL AND event_type = 'view'
            ),
            hb AS (
                SELECT (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::UBIGINT)::BIGINT AS hv
                FROM events WHERE user_id IS NOT NULL AND event_type = 'purchase'
            ),
            ra AS (
                SELECT hv >> 48 AS idx,
                       max(CASE WHEN (hv & ((1::BIGINT << 48) - 1)) = 0 THEN 49
                           ELSE 49 - length(bin(hv & ((1::BIGINT << 48) - 1))) END) AS rho
                FROM ha GROUP BY 1
            ),
            rb AS (
                SELECT hv >> 48 AS idx,
                       max(CASE WHEN (hv & ((1::BIGINT << 48) - 1)) = 0 THEN 49
                           ELSE 49 - length(bin(hv & ((1::BIGINT << 48) - 1))) END) AS rho
                FROM hb GROUP BY 1
            ),
            ru AS (
                SELECT idx, max(rho) AS rho
                FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb) GROUP BY idx
            ),
            fold AS (
                SELECT 'a' AS side, sum(power(2.0, -rho)) AS ps, count(*) AS np FROM ra
                UNION ALL
                SELECT 'b', sum(power(2.0, -rho)), count(*) FROM rb
                UNION ALL
                SELECT 'u', sum(power(2.0, -rho)), count(*) FROM ru
            ),
            est AS (
                SELECT side, round(CASE
                    WHEN {C_HLL!r} / (ps + (4096 - np)) <= 10240.0 AND np < 4096
                    THEN 4096.0 * ln(4096.0 / (4096 - np))
                    ELSE {C_HLL!r} / (ps + (4096 - np))
                END, 3) AS e FROM fold
            ),
            wide AS (
                SELECT max(CASE WHEN side = 'a' THEN e END) AS est_a,
                       max(CASE WHEN side = 'b' THEN e END) AS est_b,
                       max(CASE WHEN side = 'u' THEN e END) AS est_union
                FROM est
            ),
            exact AS (
                SELECT count(*) AS exact_intersection FROM (
                    SELECT DISTINCT user_id FROM events
                    WHERE event_type = 'view' AND user_id IS NOT NULL
                    INTERSECT
                    SELECT DISTINCT user_id FROM events
                    WHERE event_type = 'purchase' AND user_id IS NOT NULL
                )
            )
            SELECT est_a, est_b, est_union,
                   round(greatest(est_a + est_b - est_union, 0.0), 3) AS est_intersection,
                   exact_intersection::BIGINT AS exact_intersection
            FROM wide CROSS JOIN exact
        """,
        "budget_select": f"""
            WITH base AS (
                SELECT doc_id, {_DUCK_TOKENS} AS toks, text FROM documents
            ),
            feat AS (
                SELECT doc_id, len(toks) AS n_tokens,
                       len(list_filter(toks, x -> list_contains([{", ".join("'" + w + "'" for w in T.STOPWORDS_EN)}], x)))::DOUBLE
                           / greatest(len(toks), 1) AS sw,
                       (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                           / greatest(length(text), 1) AS pr,
                       list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                           / greatest(len(toks), 1) AS mtl
                FROM base
            ),
            q AS (
                SELECT doc_id, n_tokens,
                       round(least(sw * 4.0, 1.0) * 0.5
                             + (1.0 - least(pr * 5.0, 1.0)) * 0.3
                             + (CASE WHEN mtl >= 3.0 AND mtl <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.2,
                             6) AS quality
                FROM feat
            ),
            c AS (
                SELECT *, sum(n_tokens) OVER (ORDER BY quality DESC, doc_id ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
                FROM q
            )
            SELECT doc_id, quality, n_tokens::BIGINT AS n_tokens, cum_tokens::BIGINT AS cum_tokens
            FROM c WHERE cum_tokens <= {TOKEN_BUDGET}
        """,
        "heavy_hitters_by": f"""
            WITH tok AS (
                SELECT source, doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents
            ),
            c AS (
                SELECT source, tok, count(*) AS n, count(DISTINCT doc_id) AS df_docs
                FROM tok GROUP BY 1, 2
            ),
            r AS (
                SELECT *, row_number() OVER (PARTITION BY source ORDER BY n DESC, tok ASC) AS rn
                FROM c
            )
            SELECT source, tok, n::BIGINT AS n, df_docs::BIGINT AS df_docs
            FROM r WHERE rn <= {HH_BY_TOP_N}
        """,
        "interval_overlap": f"""
            WITH a AS (
                SELECT event_id AS id_a, value AS lo_a, value + {OVERLAP_HALF_W!r} AS hi_a
                FROM events WHERE event_type = 'purchase'
            ),
            b AS (
                SELECT event_id AS id_b, value AS lo_b, value + {OVERLAP_HALF_W!r} AS hi_b
                FROM events WHERE event_type = 'view'
            ),
            p AS (
                SELECT * FROM a JOIN b ON lo_a < hi_b AND lo_b < hi_a
            )
            SELECT count(*)::BIGINT AS n_pairs,
                   round(sum(least(hi_a, hi_b) - greatest(lo_a, lo_b)), 4) AS sum_overlap,
                   count(DISTINCT id_a)::BIGINT AS n_a_matched,
                   count(DISTINCT id_b)::BIGINT AS n_b_matched
            FROM p
        """,
        "profile_docs": """
            SELECT 'doc_id' AS "column", 'bigint' AS dtype,
                   count(*)::BIGINT AS n_rows,
                   (count(*) - count(doc_id))::BIGINT AS n_null,
                   count(DISTINCT doc_id)::BIGINT AS n_distinct,
                   min(doc_id)::VARCHAR AS min_value, max(doc_id)::VARCHAR AS max_value
            FROM documents
            UNION ALL
            SELECT 'lang', 'string', count(*)::BIGINT,
                   (count(*) - count(lang))::BIGINT, count(DISTINCT lang)::BIGINT,
                   min(lang), max(lang)
            FROM documents
            UNION ALL
            SELECT 'source', 'string', count(*)::BIGINT,
                   (count(*) - count(source))::BIGINT, count(DISTINCT source)::BIGINT,
                   min(source), max(source)
            FROM documents
            UNION ALL
            SELECT 'n_chars', 'bigint', count(*)::BIGINT,
                   (count(*) - count(n_chars))::BIGINT, count(DISTINCT n_chars)::BIGINT,
                   min(n_chars)::VARCHAR, max(n_chars)::VARCHAR
            FROM documents
        """,
        "mad_outliers": f"""
            WITH med AS (
                SELECT event_type, quantile_cont(value, 0.5) AS group_median
                FROM events GROUP BY event_type
            ),
            dev AS (
                SELECT e.event_type, e.value, m.group_median,
                       abs(e.value - m.group_median) AS absdev
                FROM events e JOIN med m USING (event_type)
            ),
            mad AS (
                SELECT event_type, quantile_cont(absdev, 0.5) AS group_mad
                FROM dev GROUP BY event_type
            ),
            z AS (
                SELECT d.event_type, d.group_median, md.group_mad,
                       0.6745 * (d.value - d.group_median) / nullif(md.group_mad, 0.0) AS rz
                FROM dev d JOIN mad md USING (event_type)
            )
            SELECT event_type,
                   round(any_value(group_median), 6) AS group_median,
                   round(any_value(group_mad), 6) AS group_mad,
                   count(*)::BIGINT AS n,
                   sum(CASE WHEN abs(rz) > {MAD_K!r} THEN 1 ELSE 0 END)::BIGINT AS n_outliers
            FROM z GROUP BY event_type
        """,
        "histogram_quantiles_by": f"""
            WITH b AS (
                SELECT event_type,
                       least(greatest(floor((value - {HISTO_LO!r}) / {(HISTO_HI - HISTO_LO) / HISTO_BINS!r}), 0), {HISTO_BINS - 1})::INT AS bin
                FROM events
            ),
            h AS (
                SELECT event_type, bin, count(*) AS n,
                       round({HISTO_LO!r} + bin * {(HISTO_HI - HISTO_LO) / HISTO_BINS!r}, 6) AS bin_lo
                FROM b GROUP BY event_type, bin
            ),
            c AS (
                SELECT event_type, bin_lo,
                       sum(n) OVER (PARTITION BY event_type ORDER BY bin
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                       sum(n) OVER (PARTITION BY event_type) AS total
                FROM h
            )
            SELECT event_type, q, min(CASE WHEN cum >= q * total THEN bin_lo END) AS approx_value
            FROM c, (SELECT unnest({HISTO_QS!r}::DOUBLE[]) AS q)
            GROUP BY event_type, q
        """,
        "source_cap": f"""
            SELECT source, doc_id, length(text)::BIGINT AS text_len
            FROM (
                SELECT source, doc_id, text,
                       row_number() OVER (
                           PARTITION BY source ORDER BY length(text) DESC, doc_id
                       ) AS rn
                FROM documents
            )
            WHERE rn <= {SOURCE_CAP_N}
        """,
        "duplicate_spans": f"""
            WITH tokq AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
            spans AS (
                SELECT doc_id,
                       unnest(list_transform(
                           range(1, greatest(len(t) - {DUP_SPAN_N} + 2, 1)),
                           i -> md5(array_to_string(t[i:i+{DUP_SPAN_N - 1}], ' ')))) AS h
                FROM tokq
            ),
            duph AS (
                SELECT h, 1 AS dup FROM spans
                GROUP BY h HAVING count(DISTINCT doc_id) >= {DUP_SPAN_MIN_DOCS}
            )
            SELECT doc_id, count(*) AS n_spans, count(dup)::BIGINT AS n_dup,
                   round(count(dup)::DOUBLE / count(*), 6) AS dup_fraction
            FROM spans LEFT JOIN duph USING (h)
            GROUP BY doc_id
        """,
        "rollup_merge": """
            SELECT event_type,
                   count(*) AS n,
                   round(sum(value), 2) AS sum_v,
                   round(min(value), 6) AS min_v,
                   round(max(value), 6) AS max_v,
                   round(sum(value) / count(*), 6) AS avg_v
            FROM events GROUP BY event_type
        """,
        "semdedup": f"""
            WITH cells AS (
                SELECT vec_id, embedding,
                       {_duck_ivf_cell("embedding", SEMDEDUP_CENTROIDS)} AS cell,
                       sqrt(list_sum(list_transform(embedding,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
                FROM embeddings
            ),
            dropped AS (
                SELECT DISTINCT b.vec_id AS vec_id
                FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
                WHERE round({_duck_dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6)
                      >= {SEMDEDUP_COS}
            )
            SELECT c.vec_id, c.cell, (d.vec_id IS NULL) AS kept
            FROM cells c LEFT JOIN dropped d ON c.vec_id = d.vec_id
        """,
        "skew_profile": f"""
            WITH c AS (
                SELECT event_type, count(*) AS key_rows FROM events GROUP BY event_type
            ),
            t AS (SELECT sum(key_rows) AS total, count(*) AS nkeys FROM c)
            SELECT event_type, key_rows,
                   round(key_rows / total, 6) AS share,
                   round(key_rows * nkeys / total, 3) AS skew_ratio
            FROM c CROSS JOIN t
            ORDER BY key_rows DESC, event_type LIMIT {SKEW_TOP_N}
        """,
        "histogram_quantiles": f"""
            WITH b AS (
                SELECT least(greatest(floor((value - {HISTO_LO!r}) / {(HISTO_HI - HISTO_LO) / HISTO_BINS!r}), 0), {HISTO_BINS - 1})::INT AS bin
                FROM events
            ),
            h AS (
                SELECT bin, count(*) AS n,
                       round({HISTO_LO!r} + bin * {(HISTO_HI - HISTO_LO) / HISTO_BINS!r}, 6) AS bin_lo
                FROM b GROUP BY bin
            ),
            c AS (
                SELECT bin_lo,
                       sum(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                       sum(n) OVER () AS total
                FROM h
            )
            SELECT q, min(CASE WHEN cum >= q * total THEN bin_lo END) AS approx_value
            FROM c, (SELECT unnest({HISTO_QS!r}::DOUBLE[]) AS q)
            GROUP BY q
        """,
        "stratified_sample": f"""
            WITH r AS (
                SELECT doc_id, lang,
                       row_number() OVER (
                           PARTITION BY lang
                           ORDER BY (('0x' || substr(md5('strat:' || doc_id), 1, 15))::UBIGINT)::BIGINT,
                                    doc_id
                       ) AS rn
                FROM documents
            )
            SELECT doc_id, lang FROM r WHERE rn <= {STRATA_N}
        """,
        "heavy_hitters": f"""
            WITH tok AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents)
            SELECT tok, count(*) AS total_count, count(DISTINCT doc_id) AS doc_freq
            FROM tok GROUP BY tok HAVING count(*) >= {HEAVY_MIN}
        """,
        "salted_join_agg": """
            WITH dim AS (
                SELECT DISTINCT o_orderpriority,
                       substr(o_orderpriority, 1, 1) AS prio_class
                FROM orders
            )
            SELECT prio_class, count(*)::BIGINT AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders JOIN dim USING (o_orderpriority)
            GROUP BY prio_class
        """,
        "zorder_key": f"""
            SELECT c_custkey, {_duck_zorder(ZORDER_COLS, ZORDER_BITS)} AS zkey
            FROM customer
        """,
        "lsh_recall": f"""
            WITH exact AS (
                SELECT e.vec_id, round({_duck_dot("e.embedding", "(SELECT embedding FROM embeddings WHERE vec_id = 0)")}, 6) AS score
                FROM embeddings e
                ORDER BY score DESC, e.vec_id LIMIT {KNN_K}
            ),
            sig AS (
                SELECT vec_id, embedding, {_duck_signature("embedding")} AS bucket
                FROM embeddings
            ),
            q AS (SELECT embedding AS qe, bucket AS qb FROM sig WHERE vec_id = 0),
            approx AS (
                SELECT s.vec_id, round({_duck_dot("s.embedding", "q.qe")}, 6) AS score
                FROM sig s, q
                WHERE s.bucket = q.qb
                ORDER BY score DESC, s.vec_id LIMIT {KNN_K}
            )
            SELECT count(a.vec_id)::BIGINT AS n_hit,
                   count(*)::BIGINT AS n_exact,
                   round(count(a.vec_id)::DOUBLE / count(*), 6) AS recall
            FROM exact e LEFT JOIN approx a ON e.vec_id = a.vec_id
        """,
        "gopher_rules": f"""
            WITH base AS (
                SELECT doc_id, text, {_DUCK_TOKENS} AS t,
                       string_split(text, chr(10)) AS lines
                FROM documents
            ),
            m AS (
                SELECT doc_id,
                    len(t)::BIGINT AS n_words,
                    round(list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t), 6) AS mean_word_len,
                    round(((length(text) - length(replace(text, '#', '')))
                           + (length(text) - length(replace(text, '...', ''))) / 3)::DOUBLE / len(t), 6) AS symbol_ratio,
                    round(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))::DOUBLE / len(t), 6) AS alpha_frac,
                    (list_contains(t, 'the')::INT + list_contains(t, 'be')::INT
                     + list_contains(t, 'to')::INT + list_contains(t, 'of')::INT
                     + list_contains(t, 'and')::INT + list_contains(t, 'that')::INT
                     + list_contains(t, 'have')::INT + list_contains(t, 'with')::INT)::BIGINT AS stop_hits,
                    round(len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*•]')))::DOUBLE / len(lines), 6) AS bullet_frac,
                    round(len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.\\s*$')))::DOUBLE / len(lines), 6) AS ellipsis_frac
                FROM base
            )
            SELECT *,
                   (n_words >= {GOPHER_MIN_WORDS} AND n_words <= 100000) AS ok_word_count,
                   (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_mean_len,
                   (symbol_ratio <= 0.1) AS ok_symbol,
                   (alpha_frac >= 0.8) AS ok_alpha,
                   (stop_hits >= 2) AS ok_stops,
                   (bullet_frac <= 0.9) AS ok_bullets,
                   (ellipsis_frac <= 0.3) AS ok_ellipsis,
                   (n_words >= {GOPHER_MIN_WORDS} AND n_words <= 100000
                    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                    AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8
                    AND stop_hits >= 2 AND bullet_frac <= 0.9
                    AND ellipsis_frac <= 0.3) AS pass_gopher
            FROM m
        """,
        "ngram_lm_score": f"""
            WITH base AS (
                SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents
            ),
            pairs AS (
                SELECT doc_id, z[1] AS w1, z[2] AS w2
                FROM (
                    SELECT doc_id, unnest(list_zip(t[1:len(t) - 1], t[2:len(t)])) AS z
                    FROM base WHERE len(t) >= 2
                )
            ),
            uni AS (SELECT unnest(t) AS w1 FROM base),
            c2 AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM pairs GROUP BY w1, w2),
            c1 AS (SELECT w1, count(*)::BIGINT AS c1 FROM uni GROUP BY w1),
            v AS (SELECT count(DISTINCT w1)::BIGINT AS v FROM uni),
            scored AS (
                SELECT p.doc_id,
                       floor(ln((c2.c2 + {float(LM_K)!r}) / (c1.c1 + {float(LM_K)!r} * v.v)) * 1e6 + 0.5)::BIGINT AS lp
                FROM pairs p JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
            )
            SELECT doc_id, count(*)::BIGINT AS n_bigrams,
                   (-sum(lp))::BIGINT AS sum_nll_micro
            FROM scored GROUP BY doc_id
        """,
        "bm25_topk": f"""
            WITH base AS (
                SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents
            ),
            lens AS (SELECT doc_id, len(toks) AS doclen, toks FROM base),
            stats AS (SELECT count(*) AS n_docs, avg(doclen) AS avgdl FROM lens),
            tok AS (SELECT doc_id, doclen, unnest(toks) AS tok FROM lens),
            tf AS (
                SELECT doc_id, tok, count(*) AS tf, first(doclen) AS doclen
                FROM tok WHERE tok IN ({", ".join(repr(t) for t in BM25_TERMS)})
                GROUP BY doc_id, tok
            ),
            dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
            scored AS (
                SELECT tf.doc_id,
                       ln(1.0::DOUBLE + (stats.n_docs - dfq.df + 0.5::DOUBLE)
                                        / (dfq.df + 0.5::DOUBLE))
                       * tf.tf * {BM25_K1 + 1.0}::DOUBLE
                       / (tf.tf + {BM25_K1}::DOUBLE
                          * (1.0::DOUBLE - {BM25_B}::DOUBLE
                             + {BM25_B}::DOUBLE * tf.doclen / stats.avgdl)) AS s
                FROM tf JOIN dfq USING (tok), stats
            )
            SELECT doc_id, round(sum(s), 6) AS bm25
            FROM scored GROUP BY doc_id
            ORDER BY bm25 DESC, doc_id LIMIT {KNN_K}
        """,
        "bpe_pair_counts": f"""
            WITH t AS (SELECT {_DUCK_TOKENS} AS toks FROM documents),
            p AS (
                SELECT unnest(list_transform(
                    generate_series(1, greatest(len(toks) - 1, 0)),
                    i -> toks[i] || ' ' || toks[i + 1])) AS pair
                FROM t
            )
            SELECT pair, count(*)::BIGINT AS n_pairs
            FROM p GROUP BY pair
            ORDER BY n_pairs DESC, pair LIMIT {BPE_TOP}
        """,
        "contamination_check": f"""
            WITH ev AS (
                SELECT DISTINCT doc_id, {_duck_md5_bigint("sh")} AS h
                FROM (SELECT doc_id, unnest({_duck_shingles(_DUCK_TOKENS)}) AS sh
                      FROM documents WHERE doc_id % 10 = 0)
            ),
            tr AS (
                SELECT DISTINCT {_duck_md5_bigint("sh")} AS h
                FROM (SELECT unnest({_duck_shingles(_DUCK_TOKENS)}) AS sh
                      FROM documents WHERE doc_id % 10 <> 0)
            )
            SELECT ev.doc_id, count(*)::BIGINT AS n_shingles,
                   count(tr.h)::BIGINT AS n_matched,
                   round(count(tr.h)::DOUBLE / count(*), 6) AS contamination
            FROM ev LEFT JOIN tr ON ev.h = tr.h
            GROUP BY ev.doc_id
        """,
        "pack_sequences": f"""
            WITH t AS (
                SELECT doc_id, len({_DUCK_TOKENS})::INT AS n_tokens FROM documents
            ),
            c AS (
                SELECT doc_id, n_tokens,
                       coalesce(sum(n_tokens) OVER (
                           ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0)::BIGINT AS s
                FROM t
            )
            SELECT doc_id, n_tokens,
                   s // {PACK_BUDGET} AS seq_id,
                   s % {PACK_BUDGET} AS offset_in_seq,
                   (n_tokens > 0 AND
                    (s + n_tokens - 1) // {PACK_BUDGET} <> s // {PACK_BUDGET})
                       AS spans_boundary
            FROM c
        """,
        "repetition_pii": _repetition_pii_oracle(),
        "exact_dedup": """
            SELECT min(doc_id) AS doc_id,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
            FROM documents GROUP BY 2
        """,
        "minhash_signatures": f"""
            WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
            sh AS (
                SELECT doc_id, unnest(list_distinct({sh})) AS shingle FROM toks
            )
            SELECT doc_id, {minhash_cols} FROM sh GROUP BY doc_id
        """,
        "minhash_lsh_pairs": f"""
            WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
            shx AS (
                SELECT doc_id, unnest(list_distinct({sh})) AS shingle FROM toks
            ),
            sig AS (SELECT doc_id, {minhash_cols} FROM shx GROUP BY doc_id)
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({band_cond})
        """,
        "edit_distance_verify": f"""
            WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
            shx AS (
                SELECT doc_id, unnest(list_distinct({sh})) AS shingle FROM toks
            ),
            sig AS (SELECT doc_id, {minhash_cols} FROM shx GROUP BY doc_id),
            pairs AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({edit_band_cond})
            )
            SELECT id_a, id_b,
                   round(levenshtein(da.text, db.text)::DOUBLE
                         / greatest(length(da.text), length(db.text), 1), 6) AS edit_ratio
            FROM pairs
            JOIN documents da ON da.doc_id = id_a
            JOIN documents db ON db.doc_id = id_b
            WHERE levenshtein(da.text, db.text)
                  <= floor({EDIT_MAX_RATIO!r} * greatest(length(da.text), length(db.text), 1))
        """,
        "incremental_dedup": f"""
            WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
            shx AS (
                SELECT doc_id, unnest(list_distinct({sh})) AS shingle FROM toks
            ),
            sig AS (SELECT doc_id, {minhash_cols} FROM shx GROUP BY doc_id)
            SELECT n.doc_id AS new_id, min(c.doc_id) AS dup_of
            FROM sig n JOIN sig c
              ON n.doc_id >= {INCR_SPLIT} AND c.doc_id < {INCR_SPLIT} AND ({inc_band_cond})
            GROUP BY n.doc_id
        """,
        "winnowing_fingerprints": f"""
            WITH d AS (
                SELECT doc_id,
                       regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
                FROM documents WHERE doc_id < 100
            ), h AS (
                SELECT doc_id,
                       list_transform(
                           range(1, greatest(length(t) - {WINNOW_K - 1}, 1) + 1),
                           i -> (('0x' || substr(md5(substring(t, i, {WINNOW_K})), 1, 8))::UBIGINT)::BIGINT
                       ) AS hs
                FROM d
            ), m AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, greatest(len(hs) - {WINNOW_W - 1}, 1) + 1),
                           j -> list_min(hs[j : j + {WINNOW_W - 1}])
                       )) AS fps
                FROM h
            )
            SELECT doc_id, unnest(fps) AS fingerprint FROM m
        """,
        "dedup_components": f"""
            WITH RECURSIVE toks AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
            shx AS (
                SELECT doc_id, unnest(list_distinct({sh})) AS shingle FROM toks
            ),
            sig AS (SELECT doc_id, {minhash_cols} FROM shx GROUP BY doc_id),
            pairs AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({band_cond})
            ),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION ALL
                SELECT id_b, id_a FROM pairs
            ),
            reach(id, r) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.id
            )
            SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
        """,
        # same closure capped to GOLD_DOC_CAP docs, then per-field
        # survivorship: modes as ranked windows, ties to the smallest value
        "golden_records": f"""
            WITH RECURSIVE toks AS (
                SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents
                WHERE doc_id < {GOLD_DOC_CAP}
            ),
            shx AS (
                SELECT doc_id, unnest(list_distinct({sh})) AS shingle FROM toks
            ),
            sig AS (SELECT doc_id, {minhash_cols} FROM shx GROUP BY doc_id),
            pairs AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({band_cond})
            ),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION ALL
                SELECT id_b, id_a FROM pairs
            ),
            reach(id, r) AS (
                SELECT doc_id, doc_id FROM documents WHERE doc_id < {GOLD_DOC_CAP}
                UNION
                SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.id
            ),
            comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
            j AS (
                SELECT c.component, d.doc_id, d.lang, d.source, d.n_chars
                FROM documents d JOIN comp c ON c.doc_id = d.doc_id
                WHERE d.doc_id < {GOLD_DOC_CAP}
            ),
            base AS (
                SELECT component AS cluster, min(doc_id)::BIGINT AS canonical_id,
                       count(*)::BIGINT AS n_members, max(n_chars) AS n_chars
                FROM j GROUP BY component
            ),
            pick_lang AS (
                SELECT cluster, lang FROM (
                    SELECT component AS cluster, lang,
                           row_number() OVER (PARTITION BY component
                             ORDER BY count(*) DESC, lang ASC) AS rn
                    FROM j GROUP BY component, lang
                ) WHERE rn = 1
            ),
            pick_src AS (
                SELECT cluster, source FROM (
                    SELECT component AS cluster, source,
                           row_number() OVER (PARTITION BY component
                             ORDER BY count(*) DESC, source ASC) AS rn
                    FROM j GROUP BY component, source
                ) WHERE rn = 1
            )
            SELECT b.cluster, b.canonical_id, b.n_members, b.n_chars,
                   pl.lang, ps.source
            FROM base b
            JOIN pick_lang pl ON pl.cluster = b.cluster
            JOIN pick_src ps ON ps.cluster = b.cluster
        """,
        # exponential mechanism: Gumbel-max over eps*count/2, md5 uniforms
        "dp_topk": f"""
            WITH g AS (
                SELECT source, count(*)::BIGINT AS n FROM documents GROUP BY source
            ),
            s AS (
                SELECT source,
                       {EM_EPS / 2.0} * n + (
                         - ln(- ln(
                           ((('0x' || substr(md5('em:' || source), 1, 15))::UBIGINT)::BIGINT
                            + 1) / {float(1 << 60)}
                         ))
                       ) AS sc
                FROM g
            )
            SELECT CAST(row_number() OVER (ORDER BY sc DESC, source ASC) AS INTEGER)
                     AS rank, source
            FROM s ORDER BY sc DESC, source ASC LIMIT {EM_K}
        """,
        # same closure, fold hashed from the cluster's canonical id — a
        # near-dup pair can never straddle train/test
        "leakage_safe_split": f"""
            WITH RECURSIVE toks AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
            shx AS (
                SELECT doc_id, unnest(list_distinct({sh})) AS shingle FROM toks
            ),
            sig AS (SELECT doc_id, {minhash_cols} FROM shx GROUP BY doc_id),
            pairs AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({band_cond})
            ),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION ALL
                SELECT id_b, id_a FROM pairs
            ),
            reach(id, r) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.id
            ),
            comp AS (
                SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
            )
            SELECT doc_id, component,
                   CASE WHEN ({_DUCK_MD5_BIGINT.format(expr="'split:' || CAST(component AS VARCHAR)")} % 10) < 8
                        THEN 'train' ELSE 'test' END AS fold
            FROM comp
        """,
        "quality_model": qm_sql,
        # reliability curve: rank-based deciles over the nested quality-
        # model pipeline, integer-exact bucketing ((rn-1)*10 // n)
        "model_calibration": f"""
            WITH qm AS ({qm_sql}),
            r AS (
                SELECT is_target,
                       row_number() OVER (ORDER BY logit_micro, doc_id) AS rn,
                       count(*) OVER () AS n
                FROM qm
            )
            SELECT (((rn - 1) * 10) // n)::INT AS decile,
                   count(*)::BIGINT AS n_docs,
                   sum(is_target)::BIGINT AS n_target,
                   round(sum(is_target)::DOUBLE / count(*), 6) AS frac_target
            FROM r GROUP BY 1
        """,
        # order-insensitive per-source content fingerprint: XOR-fold of a
        # 60-bit md5 over INJECTIVELY (length-prefix) encoded rows + count
        "corpus_checksum": f"""
            SELECT source, count(*)::BIGINT AS n_rows,
                   bit_xor({_duck_md5_bigint(
                       "'cksum:' || concat_ws(chr(31), "
                       "CASE WHEN doc_id IS NULL THEN 'n:' ELSE 'v' || length(doc_id::VARCHAR) || ':' || doc_id::VARCHAR END, "
                       "CASE WHEN text IS NULL THEN 'n:' ELSE 'v' || length(text) || ':' || text END, "
                       "CASE WHEN lang IS NULL THEN 'n:' ELSE 'v' || length(lang) || ':' || lang END, "
                       "CASE WHEN n_chars IS NULL THEN 'n:' ELSE 'v' || length(n_chars::VARCHAR) || ':' || n_chars::VARCHAR END)"
                   )}) AS checksum
            FROM documents GROUP BY source
        """,
        # deterministic multi-epoch training order: epoch-salted hash →
        # shard, row_number within (epoch, shard)
        "training_order": f"""
            WITH e AS (
                SELECT doc_id, unnest([0, 1]) AS epoch FROM documents
            ),
            h AS (
                SELECT doc_id, epoch,
                       {_duck_md5_bigint("'order:' || epoch || ':' || doc_id")} AS h1
                FROM e
            )
            SELECT doc_id, epoch, (h1 % 8) AS shard,
                   row_number() OVER (
                       PARTITION BY epoch, h1 % 8 ORDER BY h1, doc_id
                   )::BIGINT AS pos
            FROM h
        """,
        # source-level MinHash: signature of each source's UNIONED shingle
        # set, est_jaccard = agreeing hashes / 16
        "source_similarity": f"""
            WITH toks AS (SELECT source, {_DUCK_TOKENS} AS t FROM documents),
            shx AS (
                SELECT source, unnest(list_distinct({sh})) AS shingle FROM toks
            ),
            sig AS (SELECT source, {srcsim_cols} FROM shx GROUP BY source)
            SELECT a.source AS grp_a, b.source AS grp_b,
                   ({srcsim_agree})::BIGINT AS n_agree,
                   round(({srcsim_agree})::DOUBLE / 16.0, 6) AS est_jaccard
            FROM sig a JOIN sig b ON a.source < b.source
        """,
        # DSIR importance weights: smoothed ratio assembled as one division
        # of exact-integer products so both engines log the identical double
        "dsir_weights": f"""
            WITH base AS (
                SELECT doc_id, source, {_DUCK_TOKENS} AS t FROM documents
            ),
            feats AS (
                SELECT doc_id, source,
                       unnest(list_concat(
                           t,
                           list_transform(
                               list_zip(t[1:len(t) - 1], t[2:len(t)]),
                               z -> z[1] || ' ' || z[2]
                           )
                       )) AS f
                FROM base
            ),
            b AS (
                SELECT doc_id, source = 'src0' AS tgt,
                       ({_duck_md5_bigint("'dsir:' || f")} % 1024) AS bkt
                FROM feats
            ),
            ct AS (SELECT bkt, count(*)::BIGINT AS ct FROM b WHERE tgt GROUP BY bkt),
            cr AS (SELECT bkt, count(*)::BIGINT AS cr FROM b WHERE NOT tgt GROUP BY bkt),
            tot AS (
                SELECT sum(CASE WHEN tgt THEN 1 ELSE 0 END)::BIGINT AS tt,
                       sum(CASE WHEN NOT tgt THEN 1 ELSE 0 END)::BIGINT AS tr
                FROM b
            ),
            scored AS (
                SELECT doc_id,
                       floor(ln(
                           (coalesce(ct.ct, 0) + 1.0) * (tot.tr + 1024.0)
                           / ((coalesce(cr.cr, 0) + 1.0) * (tot.tt + 1024.0))
                       ) * 1e6 + 0.5)::BIGINT AS lp
                FROM b LEFT JOIN ct USING (bkt) LEFT JOIN cr USING (bkt) CROSS JOIN tot
                WHERE NOT tgt
            )
            SELECT doc_id, count(*)::BIGINT AS n_feats, sum(lp)::BIGINT AS logw_micro
            FROM scored GROUP BY doc_id
        """,
        "simhash": f"""
            WITH toks AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents),
            hashed AS (SELECT doc_id, {_duck_md5_bigint("'sh:' || tok")} AS h FROM toks),
            bits AS (SELECT doc_id, {simhash_bit_sums} FROM hashed GROUP BY doc_id)
            SELECT doc_id, {simhash_recombine} AS simhash FROM bits
        """,
        "bootstrap_ci": f"""
            WITH reps AS (
                SELECT unnest(generate_series(0, {BOOT_REPLICAS - 1})) AS b
            ),
            r AS (SELECT event_id AS k, value::DOUBLE AS v FROM events),
            drawn AS (
                SELECT reps.b, r.v,
                       ({_DUCK_MD5_BIGINT.format(expr="'bs:' || CAST(r.k AS VARCHAR) || ':' || CAST(reps.b AS VARCHAR)")} + 1)
                       / {float(1 << 60)!r} AS u
                FROM r CROSS JOIN reps
            ),
            m AS (
                SELECT b, v,
                       CASE WHEN u <= {0.36787944117144233!r} THEN 0
                            WHEN u <= {0.7357588823428847!r} THEN 1
                            WHEN u <= {0.9196986029286058!r} THEN 2
                            WHEN u <= {0.9810118431238462!r} THEN 3
                            WHEN u <= {0.9963401531726563!r} THEN 4
                            ELSE 5 END AS mult
                FROM drawn
            ),
            pr AS (SELECT b, sum(mult * v) / sum(mult) AS mean FROM m GROUP BY b),
            mu AS (SELECT avg(value::DOUBLE) AS mu FROM events)
            SELECT round(mu.mu, 6) AS mean,
                   round(quantile_cont(pr.mean, {0.05 / 2.0!r}), 6) AS ci_lo,
                   round(quantile_cont(pr.mean, {1.0 - 0.05 / 2.0!r}), 6) AS ci_hi,
                   count(*)::BIGINT AS n_replicas
            FROM pr CROSS JOIN mu GROUP BY mu.mu
        """,
        "map_functions": f"""
            -- row-form mirror of the map pipeline: per-doc token counts,
            -- keep n >= 2, boosted = n * 10
            WITH d AS (
                SELECT doc_id, text FROM documents WHERE doc_id < 50
            ),
            tok AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM d),
            tf AS (SELECT doc_id, tok, count(*)::BIGINT AS n FROM tok GROUP BY 1, 2)
            SELECT doc_id, tok, n, (n * 10)::BIGINT AS boosted
            FROM tf WHERE n >= 2
        """,
        "logreg_gd": """
            -- 2 GD steps unrolled; step 1 has w=0 so sigma(z)=0.5 exactly
            WITH base AS (
                SELECT 1.0 AS x0, value / 500.0 AS x1,
                       extract(hour FROM ts) / 24.0 AS x2,
                       CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
                FROM events
            ),
            nn AS (SELECT count(*)::DOUBLE AS n FROM base),
            s1 AS (
                SELECT sum(x0 * (0.5 - y)) AS g0, sum(x1 * (0.5 - y)) AS g1,
                       sum(x2 * (0.5 - y)) AS g2
                FROM base
            ),
            w1 AS (
                SELECT 0.0 - g0 / nn.n AS w0, 0.0 - g1 / nn.n AS w1,
                       0.0 - g2 / nn.n AS w2
                FROM s1 CROSS JOIN nn
            ),
            s2 AS (
                SELECT sum(x0 * (1.0 / (1.0 + exp(-(w0 * x0 + w1 * x1 + w2 * x2))) - y)) AS g0,
                       sum(x1 * (1.0 / (1.0 + exp(-(w0 * x0 + w1 * x1 + w2 * x2))) - y)) AS g1,
                       sum(x2 * (1.0 / (1.0 + exp(-(w0 * x0 + w1 * x1 + w2 * x2))) - y)) AS g2
                FROM base CROSS JOIN w1
            ),
            w2 AS (
                SELECT w1.w0 - s2.g0 / nn.n AS w0, w1.w1 - s2.g1 / nn.n AS w1,
                       w1.w2 - s2.g2 / nn.n AS w2
                FROM w1 CROSS JOIN s2 CROSS JOIN nn
            )
            SELECT '__intercept__' AS feature, round(w0, 6) AS weight FROM w2
            UNION ALL SELECT 'value_s', round(w1, 6) FROM w2
            UNION ALL SELECT 'hour_s', round(w2, 6) FROM w2
        """,
        "survival_curve": f"""
            WITH pu AS (
                SELECT user_id, min(ts) AS f, max(ts) AS l
                FROM events WHERE user_id IS NOT NULL GROUP BY 1
            ),
            h AS (SELECT max(l) AS e FROM pu),
            lived AS (
                SELECT date_diff('day', CAST(f AS DATE), CAST(l AS DATE))::INT AS t_days,
                       (l < e - INTERVAL {int(SURV_CENSOR_DAYS)} DAY) AS died
                FROM pu CROSS JOIN h
            ),
            day AS (
                SELECT t_days,
                       sum(CASE WHEN died THEN 1 ELSE 0 END)::BIGINT AS n_deaths,
                       count(*)::BIGINT AS n_ending
                FROM lived GROUP BY 1
            ),
            curve AS (
                SELECT t_days, n_deaths,
                       sum(n_ending) OVER (
                           ORDER BY t_days
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                       )::BIGINT AS n_at_risk
                FROM day
            )
            SELECT t_days, n_at_risk, n_deaths,
                   round(exp(sum(CASE WHEN n_deaths < n_at_risk
                                      THEN ln(1.0 - n_deaths::DOUBLE / n_at_risk)
                                      ELSE CAST('-infinity' AS DOUBLE) END)
                             OVER (ORDER BY t_days
                                   ROWS UNBOUNDED PRECEDING)), 6) AS survival
            FROM curve
        """,
        "ab_test_zscore": f"""
            WITH pu AS (
                SELECT user_id,
                       max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
                       CASE WHEN ({_DUCK_MD5_BIGINT.format(expr="'ab:' || CAST(user_id AS VARCHAR)")} % 2) = 0
                            THEN 'A' ELSE 'B' END AS arm
                FROM events WHERE user_id IS NOT NULL GROUP BY user_id
            ),
            arms AS (
                SELECT arm, count(*)::BIGINT AS n, sum(conv)::BIGINT AS c
                FROM pu GROUP BY 1
            ),
            a AS (SELECT n AS n_a, c AS c_a FROM arms WHERE arm = 'A'),
            b AS (SELECT n AS n_b, c AS c_b FROM arms WHERE arm = 'B')
            SELECT n_a, n_b,
                   round(c_a / n_a, 6) AS conv_a,
                   round(c_b / n_b, 6) AS conv_b,
                   round(c_b / n_b - c_a / n_a, 6) AS lift,
                   round((c_b / n_b - c_a / n_a)
                         / nullif(sqrt(((c_a + c_b) / (n_a + n_b))
                                       * (1 - (c_a + c_b) / (n_a + n_b))
                                       * (1.0 / n_a + 1.0 / n_b)), 0.0), 6) AS zscore
            FROM a CROSS JOIN b
        """,
        "source_concentration": """
            WITH s AS (
                SELECT source, count(*)::DOUBLE AS x FROM documents GROUP BY 1
            ),
            r AS (
                SELECT x, row_number() OVER (ORDER BY x, source) AS i FROM s
            )
            SELECT count(*)::BIGINT AS n_groups,
                   round(sum(x * x) / (sum(x) * sum(x)), 6) AS hhi,
                   round(2.0 * sum(i * x) / (count(*) * sum(x))
                         - (count(*) + 1.0) / count(*), 6) AS gini
            FROM r
        """,
        "feature_hashing": f"""
            WITH tok AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents)
            SELECT doc_id,
                   ({_duck_md5_bigint("'fh:' || tok")} % {FH_DIM})::INT AS bucket,
                   count(*)::BIGINT AS n
            FROM tok GROUP BY 1, 2
        """,
        "neg_sampling_weights": f"""
            WITH tok AS (SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents),
            c AS (SELECT tok, count(*)::BIGINT AS n FROM tok GROUP BY 1),
            z AS (SELECT sum(pow(n::DOUBLE, {NSW_POWER!r})) AS z FROM c)
            SELECT tok, n, round(pow(n::DOUBLE, {NSW_POWER!r}) / z.z, 6) AS prob
            FROM c CROSS JOIN z
            ORDER BY n DESC, tok LIMIT {NSW_TOP}
        """,
        "cooccurrence_pmi": f"""
            WITH d AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
            tok AS (
                SELECT doc_id, (generate_subscripts(t, 1) - 1)::INT AS pos,
                       unnest(t) AS tok
                FROM d
            ),
            pairs AS (
                SELECT least(a.tok, b.tok) AS tok_a,
                       greatest(a.tok, b.tok) AS tok_b,
                       count(*)::BIGINT AS n_ab
                FROM tok a JOIN tok b
                  ON a.doc_id = b.doc_id
                 AND b.pos > a.pos AND b.pos <= a.pos + {COOC_WINDOW}
                GROUP BY 1, 2
            ),
            marg AS (
                SELECT tok, sum(n_ab)::BIGINT AS n_t FROM (
                    SELECT tok_a AS tok, n_ab FROM pairs
                    UNION ALL SELECT tok_b, n_ab FROM pairs
                ) GROUP BY tok
            ),
            tot AS (SELECT sum(n_ab) AS t FROM pairs)
            SELECT p.tok_a, p.tok_b, p.n_ab,
                   round(ln(p.n_ab::DOUBLE * tot.t::DOUBLE
                            / (ma.n_t::DOUBLE * mb.n_t::DOUBLE)), 6) AS pmi
            FROM pairs p
            JOIN marg ma ON p.tok_a = ma.tok
            JOIN marg mb ON p.tok_b = mb.tok
            CROSS JOIN tot
            WHERE p.n_ab >= {COOC_MIN_PAIRS}
        """,
        "q7_volume_shipping": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   extract(year FROM l_shipdate)::INT AS ship_year,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*)::BIGINT AS n_lines
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
            GROUP BY 1, 2, 3
        """,
        "q10_returned_items": """
            SELECT c.c_custkey, c.c_name, n.n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   round(any_value(c.c_acctbal), 2) AS acctbal
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer c ON o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= DATE '1996-01-01'
              AND o_orderdate < DATE '1996-07-01'
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, c_custkey LIMIT 20
        """,
        "q12_late_shipping": """
            SELECT l_returnflag,
                   sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
                   sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END)::BIGINT AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 90
            GROUP BY 1
        """,
        "session_paths": """
            WITH firstk AS (
                SELECT user_id, event_type,
                       row_number() OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS rn
                FROM events WHERE user_id IS NOT NULL
            ),
            paths AS (
                SELECT user_id,
                       string_agg(event_type, '>' ORDER BY rn) AS path
                FROM firstk WHERE rn <= 3 GROUP BY user_id
            )
            SELECT path, count(*)::BIGINT AS n_users FROM paths GROUP BY path
        """,
        "k_anonymity": f"""
            SELECT c_nationkey, c_mktsegment,
                   floor(c_acctbal / 1000)::INT AS bal_band,
                   count(*)::BIGINT AS group_size
            FROM customer
            GROUP BY 1, 2, 3
            HAVING count(*) < {KANON_K}
        """,
        # per-relation orphan audit: NOT EXISTS mirrors the anti-join's
        # NULL semantics exactly (NOT IN would go UNKNOWN on a NULL dim key)
        "fk_integrity": """
            SELECT 'orders_custkey' AS relation, count(*)::BIGINT AS n_rows,
                   sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null_keys,
                   (SELECT count(*) FROM orders o
                    WHERE o.o_custkey IS NOT NULL
                      AND NOT EXISTS (SELECT 1 FROM customer c
                                      WHERE c.c_custkey = o.o_custkey))::BIGINT AS n_orphans
            FROM orders
            UNION ALL
            SELECT 'lineitem_orderkey', count(*)::BIGINT,
                   sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
                   (SELECT count(*) FROM lineitem l
                    WHERE l.l_orderkey IS NOT NULL
                      AND NOT EXISTS (SELECT 1 FROM orders o
                                      WHERE o.o_orderkey = l.l_orderkey))::BIGINT
            FROM lineitem
            UNION ALL
            SELECT 'events_user', count(*)::BIGINT,
                   sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)::BIGINT,
                   (SELECT count(*) FROM events e
                    WHERE e.user_id IS NOT NULL
                      AND NOT EXISTS (SELECT 1 FROM customer c
                                      WHERE c.c_custkey = e.user_id))::BIGINT
            FROM events
        """,
        # first-touch attribution: same gaps-and-islands spine as
        # batch_sessionization (>= gap starts a new session), then
        # first_value per session and a type-bounded rollup
        "attribution": """
            WITH t AS (
                SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS tse,
                       event_type, value
                FROM events
            ), marked AS (
                SELECT user_id, event_id, tse, event_type, value,
                       CASE WHEN lag(tse) OVER w IS NULL OR tse - lag(tse) OVER w >= 1800
                            THEN 1 ELSE 0 END AS is_start
                FROM t WINDOW w AS (PARTITION BY user_id ORDER BY tse, event_id)
            ), sess AS (
                SELECT user_id, event_id, tse, event_type, value,
                       sum(is_start) OVER (PARTITION BY user_id ORDER BY tse, event_id
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                FROM marked
            ), touched AS (
                SELECT event_type, value,
                       first_value(event_type) OVER (
                           PARTITION BY user_id, sid ORDER BY tse, event_id
                       ) AS first_touch
                FROM sess
            )
            SELECT first_touch, count(*)::BIGINT AS n_conversions,
                   round(sum(value), 2) AS total_value
            FROM touched WHERE event_type = 'purchase' GROUP BY 1
        """,
        "q6_forecast_revenue": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount >= 0.04 AND l_discount <= 0.06
              AND l_quantity < 24
        """,
        "q13_customer_distribution": """
            SELECT c_count, count(*)::BIGINT AS custdist
            FROM (
                SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count
                FROM customer LEFT JOIN orders ON c_custkey = o_custkey
                GROUP BY c_custkey
            )
            GROUP BY c_count
        """,
        "q14_promo_effect": """
            SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                          THEN l_extendedprice * (1 - l_discount)
                                          ELSE 0.0 END)
                         / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-03-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
        """,
        "q15_top_supplier": """
            WITH rev AS (
                SELECT l_suppkey,
                       round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1996-04-01'
                GROUP BY l_suppkey
            )
            SELECT l_suppkey, total_revenue FROM rev
            WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        """,
        "q17_small_quantity_revenue": """
            WITH j AS (
                SELECT l_quantity, l_extendedprice, p_partkey
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_brand = 'Brand#3'
            ),
            thr AS (
                SELECT p_partkey, 0.2 * avg(l_quantity) AS t FROM j GROUP BY 1
            )
            SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
            FROM j JOIN thr USING (p_partkey)
            WHERE l_quantity < thr.t
        """,
        "q18_large_volume_customers": """
            WITH big AS (
                SELECT l_orderkey, sum(l_quantity) AS total_qty
                FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 230
            )
            SELECT c_name, c_custkey, o_orderkey,
                   CAST(o_orderdate AS VARCHAR) AS o_orderdate,
                   round(o_totalprice, 2) AS o_totalprice,
                   round(total_qty, 2) AS total_qty
            FROM big
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        "q19_disjunctive_revenue": """
            SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "q22_global_sales_opportunity": """
            WITH ab AS (
                SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0
            ),
            recent AS (
                SELECT DISTINCT o_custkey FROM orders
                WHERE o_orderdate >= TIMESTAMP '2000-01-01'
            )
            SELECT c_nationkey, count(*)::BIGINT AS numcust,
                   round(sum(c_acctbal), 2) AS totacctbal
            FROM customer c CROSS JOIN ab
            WHERE c.c_acctbal > ab.a
              AND NOT EXISTS (SELECT 1 FROM recent r WHERE r.o_custkey = c.c_custkey)
            GROUP BY c_nationkey
        """,
        # TPC-H Q2 adaptation: derived supply relation + de-correlated min
        "q2_min_cost_supplier": f"""
            WITH supply AS ({_DUCK_SUPPLY.strip()}),
            eu AS (
                SELECT s_suppkey, s_name, n_name, s_acctbal
                FROM supplier
                JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
                WHERE r_name = 'EUROPE'
            ),
            offers AS (
                SELECT l_partkey, cost_cents, s_name, n_name, s_acctbal
                FROM supply
                JOIN part ON l_partkey = p_partkey
                JOIN eu ON l_suppkey = s_suppkey
                WHERE p_type = 'LARGE' AND p_size <= 5
            ),
            best AS (
                SELECT l_partkey, min(cost_cents) AS b FROM offers GROUP BY 1
            )
            SELECT o.l_partkey AS p_partkey, s_name, n_name,
                   round(s_acctbal, 2) AS s_acctbal,
                   round(cost_cents / 100.0, 2) AS supplycost
            FROM offers o JOIN best USING (l_partkey)
            WHERE cost_cents = best.b
        """,
        "q4_order_priority": """
            SELECT o_orderpriority, count(*)::BIGINT AS order_count
            FROM orders o
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-04-01'
              AND EXISTS (
                  SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND CAST(l.l_shipdate AS DATE)
                        > CAST(o.o_orderdate AS DATE) + 90
              )
            GROUP BY o_orderpriority
        """,
        # TPC-H Q9 adaptation: profit in exact 1e-4-dollar integer units
        "q9_product_profit": """
            WITH supply AS (
                SELECT l_partkey, l_suppkey,
                       min(round(100 * l_extendedprice)::BIGINT
                           // l_quantity::BIGINT) AS cost_cents
                FROM lineitem
                WHERE l_partkey IN (SELECT p_partkey FROM part
                                    WHERE p_name LIKE '%blue%')
                GROUP BY 1, 2
            )
            SELECT n_name AS nation,
                   extract(year FROM o_orderdate)::INT AS o_year,
                   floor((sum(
                       round(100 * l_extendedprice)::BIGINT
                           * (100 - round(100 * l_discount)::BIGINT)
                       - cost_cents * l_quantity::BIGINT * 100
                   ) + 50) / 100.0) / 100.0 AS sum_profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_name LIKE '%blue%'
            JOIN supply USING (l_partkey, l_suppkey)
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            GROUP BY 1, 2
        """,
        # TPC-H Q11 adaptation: BIGINT cents share threshold
        "q11_important_stock": """
            WITH shipped AS (
                SELECT l.* FROM lineitem l
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                WHERE n_name = 'NATION_3'
            ),
            supply AS (
                SELECT l_partkey, l_suppkey,
                       min(round(100 * l_extendedprice)::BIGINT
                           // l_quantity::BIGINT) AS cost_cents
                FROM shipped GROUP BY 1, 2
            ),
            qty AS (
                SELECT l_partkey, l_suppkey, sum(l_quantity)::BIGINT AS q
                FROM shipped GROUP BY 1, 2
            ),
            val AS (
                SELECT l_partkey, sum(cost_cents * q) AS cents
                FROM qty JOIN supply USING (l_partkey, l_suppkey)
                GROUP BY 1
            )
            SELECT l_partkey AS p_partkey, round(cents / 100.0, 2) AS value
            FROM val
            WHERE cents * (SELECT count(*) FROM val)
                  > 2 * (SELECT sum(cents) FROM val)
        """,
        "q16_supplier_counts": """
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
                  WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                          WHERE s_acctbal < 0))
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
              AND p_size IN (1, 4, 9, 16, 25, 36, 49)
            GROUP BY 1, 2, 3
        """,
        # TPC-H Q20 adaptation: exact-integer 40% share compare
        "q20_promotion_candidates": """
            WITH qty AS (
                SELECT l_partkey, l_suppkey,
                       sum(l_quantity)::BIGINT AS qty_all,
                       sum(CASE WHEN l_shipdate >= TIMESTAMP '1999-01-01'
                                THEN l_quantity ELSE 0.0 END)::BIGINT AS qty_recent
                FROM lineitem
                WHERE l_partkey IN (SELECT p_partkey FROM part
                                    WHERE p_name LIKE '%blue%')
                GROUP BY 1, 2
                HAVING sum(CASE WHEN l_shipdate >= TIMESTAMP '1999-01-01'
                                THEN l_quantity ELSE 0.0 END)::BIGINT * 10
                       > sum(l_quantity)::BIGINT * 4
            )
            SELECT DISTINCT s_suppkey, s_name
            FROM qty
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'AFRICA'
        """,
        # TPC-H Q21 adaptation: sole-late-supplier blame via one
        # per-order aggregate instead of EXISTS/NOT EXISTS
        "q21_waiting_suppliers": """
            WITH lines AS (
                SELECT l_orderkey, l_suppkey,
                       CAST(l_shipdate AS DATE)
                           > CAST(o_orderdate AS DATE) + 90 AS late
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                WHERE o_orderstatus = 'F'
            ),
            per_order AS (
                SELECT l_orderkey,
                       count(DISTINCT l_suppkey) AS n_supp,
                       count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late
                FROM lines GROUP BY 1
            ),
            blamed AS (
                SELECT DISTINCT l.l_orderkey, l.l_suppkey
                FROM lines l
                JOIN per_order p ON l.l_orderkey = p.l_orderkey
                WHERE l.late AND p.n_supp > 1 AND p.n_late = 1
            )
            SELECT s_name, count(*)::BIGINT AS numwait
            FROM blamed
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'AFRICA'
            GROUP BY s_name
        """,
        # multinomial NB confusion matrix: same micro-nat fixed-point
        # decomposition as the Spark side (observed pairs only; unseen
        # pairs contribute ln(1)=0)
        "naive_bayes_lang": f"""
            WITH toks AS (
                SELECT doc_id, lang, unnest({_DUCK_TOKENS}) AS w FROM documents
            ),
            cw AS (SELECT lang AS l, w, count(*) AS c FROM toks GROUP BY 1, 2),
            plp AS (
                SELECT l, w, floor(ln((c + 1)::DOUBLE) * 1e6 + 0.5)::BIGINT AS lp
                FROM cw
            ),
            tl AS (SELECT lang AS l, count(*) AS t FROM toks GROUP BY 1),
            v AS (SELECT count(DISTINCT w) AS v FROM toks),
            den AS (
                SELECT l, floor(ln((t + v.v)::DOUBLE) * 1e6 + 0.5)::BIGINT
                           AS den_micro
                FROM tl CROSS JOIN v
            ),
            prior AS (
                SELECT lang AS l,
                       floor(ln(count(*) / (sum(count(*)) OVER ())) * 1e6
                             + 0.5)::BIGINT AS prior_micro
                FROM documents GROUP BY 1
            ),
            nd AS (
                SELECT doc_id, lang AS actual, count(*) AS n
                FROM toks GROUP BY 1, 2
            ),
            matched AS (
                SELECT toks.doc_id, plp.l, sum(plp.lp)::BIGINT AS m
                FROM toks JOIN plp ON toks.w = plp.w GROUP BY 1, 2
            ),
            grid AS (
                SELECT nd.doc_id, nd.actual, p.l,
                       p.prior_micro - nd.n * d.den_micro
                           + coalesce(m.m, 0) AS score
                FROM nd
                CROSS JOIN prior p
                JOIN den d ON d.l = p.l
                LEFT JOIN matched m ON m.doc_id = nd.doc_id AND m.l = p.l
            ),
            pred AS (
                SELECT doc_id, actual, l AS predicted,
                       row_number() OVER (
                           PARTITION BY doc_id ORDER BY score DESC, l ASC
                       ) AS rn
                FROM grid
            )
            SELECT actual AS actual_lang, predicted AS predicted_lang,
                   count(*)::BIGINT AS n_docs
            FROM pred WHERE rn = 1 GROUP BY 1, 2
        """,
        # GROUPED_AGG UDAF: positional interquartile trim — the kept
        # multiset is tie-order-invariant, so row_number banding replays it
        "trimmed_mean_udaf": """
            WITH j AS (
                SELECT c_mktsegment, round(100 * o_totalprice)::BIGINT AS cents
                FROM orders JOIN customer ON o_custkey = c_custkey
            ),
            r AS (
                SELECT c_mktsegment, cents,
                       row_number() OVER (PARTITION BY c_mktsegment
                                          ORDER BY cents) AS rn,
                       count(*) OVER (PARTITION BY c_mktsegment) AS n
                FROM j
            )
            SELECT c_mktsegment, n::BIGINT AS n_orders,
                   sum(CASE WHEN rn > n // 4 AND rn <= n - n // 4
                            THEN cents ELSE 0 END)::BIGINT AS trimmed_sum_cents,
                   (n - 2 * (n // 4))::BIGINT AS trimmed_n,
                   round(sum(CASE WHEN rn > n // 4 AND rn <= n - n // 4
                                  THEN cents ELSE 0 END)
                         / (n - 2 * (n // 4)) / 100.0, 2) AS trimmed_mean
            FROM r GROUP BY c_mktsegment, n
        """,
        # simplified silhouette of the IVF cells: distances mirror the
        # Spark fold element-for-element; per-point s in exact micro ints
        "ivf_silhouette": f"""
            WITH cells AS (
                SELECT vec_id, embedding,
                       {_duck_ivf_cell("embedding")} AS cell
                FROM embeddings
            ),
            d AS (
                SELECT vec_id, cell,
                       [{", ".join(_duck_dist("embedding", c) for c in CENTROIDS)}]
                           AS ds
                FROM cells
            ),
            s AS (
                SELECT cell,
                       ds[cell + 1] AS a,
                       CASE WHEN ds[cell + 1] = (list_sort(ds))[1]
                            THEN (list_sort(ds))[2]
                            ELSE (list_sort(ds))[1] END AS b
                FROM d
            ),
            m AS (
                SELECT cell,
                       floor(1e6 * (b - a) / greatest(a, b))::BIGINT AS sm
                FROM s
            )
            SELECT cell, count(*)::BIGINT AS n,
                   sum(sm)::BIGINT AS sum_s_micro,
                   round(sum(sm) / count(*) / 1e6, 6) AS mean_silhouette
            FROM m GROUP BY cell
        """,
        # greedy cooldown chain as a recursive walk over each user's
        # ordered distinct seconds (a list_reduce fold with a growing list
        # accumulator returned another user's chain on DuckDB 1.0.0)
        "throttle_dedup": """
            WITH RECURSIVE r AS (
                SELECT user_id, x,
                       row_number() OVER (PARTITION BY user_id ORDER BY x) AS i
                FROM (SELECT DISTINCT user_id, floor(epoch(ts))::BIGINT AS x
                      FROM events)
            ),
            walk AS (
                SELECT user_id, i, x AS first_kept, x AS last_kept,
                       1::BIGINT AS n_kept
                FROM r WHERE i = 1
                UNION ALL
                SELECT w.user_id, r.i, w.first_kept,
                       CASE WHEN r.x >= w.last_kept + 1800
                            THEN r.x ELSE w.last_kept END,
                       w.n_kept + CASE WHEN r.x >= w.last_kept + 1800
                                       THEN 1 ELSE 0 END
                FROM walk w JOIN r ON r.user_id = w.user_id AND r.i = w.i + 1
            ),
            g AS (
                SELECT user_id, count(*)::BIGINT AS n_events
                FROM events GROUP BY 1
            ),
            d AS (
                SELECT user_id, count(*)::BIGINT AS n_distinct_seconds
                FROM r GROUP BY 1
            )
            SELECT g.user_id, g.n_events, d.n_distinct_seconds, w.n_kept,
                   w.first_kept AS first_kept_tse, w.last_kept AS last_kept_tse
            FROM g JOIN d ON d.user_id = g.user_id
            JOIN walk w ON w.user_id = g.user_id
                       AND w.i = d.n_distinct_seconds
        """,
        # Holt fold with the identical expression order — exact-cents
        # daily inputs make the smoothed doubles bit-identical
        "holt_winters": """
            WITH daily AS (
                SELECT event_type, CAST(ts AS DATE) AS d,
                       sum(floor(value * 100)::BIGINT) AS cents
                FROM events GROUP BY 1, 2
            ),
            s AS (
                SELECT event_type, list(cents ORDER BY d) AS xs
                FROM daily GROUP BY 1
            ),
            f AS (
                SELECT event_type, len(xs)::BIGINT AS n_days,
                       list_reduce(
                           list_prepend(
                               [xs[2]::DOUBLE, xs[2]::DOUBLE - xs[1]::DOUBLE],
                               list_transform(xs[3:], x -> [x::DOUBLE])
                           ),
                           (acc, x) -> [
                               0.3 * x[1] + 0.7 * (acc[1] + acc[2]),
                               0.1 * ((0.3 * x[1] + 0.7 * (acc[1] + acc[2]))
                                      - acc[1]) + 0.9 * acc[2]
                           ]
                       ) AS lt
                FROM s WHERE len(xs) >= 2
            )
            SELECT event_type, n_days,
                   floor(lt[1])::BIGINT AS level_cents,
                   floor(lt[2])::BIGINT AS trend_cents,
                   floor(lt[1] + 7.0 * lt[2])::BIGINT AS forecast7_cents
            FROM f
        """,
        # exact-integer cume_dist per source
        "quantile_normalize": """
            SELECT doc_id, source, n_chars,
                   (count(*) OVER (PARTITION BY source ORDER BY n_chars
                                   RANGE BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) * 1000000)
                   // count(*) OVER (PARTITION BY source) AS pct_micro
            FROM documents
        """,
        # streaming session windows (complete mode): must equal the batch
        # gaps-and-islands sessionization exactly — same oracle shape as
        # session_window_agg
        "stream_session_replay": """
            WITH t AS (
                SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS tse, value
                FROM events
            ), marked AS (
                SELECT user_id, event_id, tse, value,
                       CASE WHEN lag(tse) OVER w IS NULL OR tse - lag(tse) OVER w > 1800
                            THEN 1 ELSE 0 END AS is_start
                FROM t WINDOW w AS (PARTITION BY user_id ORDER BY tse, event_id)
            ), sess AS (
                SELECT user_id, tse, value,
                       sum(is_start) OVER (PARTITION BY user_id ORDER BY tse, event_id
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                FROM marked
            )
            SELECT user_id,
                   min(tse) AS session_start,
                   max(tse) + 1800 AS session_end,
                   count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM sess GROUP BY user_id, sid
        """,
        # ORC round-trip: aggregate of the re-read ORC copy must equal the
        # same aggregate over the parquet original
        "merge_versioned": """
            WITH target AS (
              SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 <> 0
            ), src AS (
              SELECT doc_id, n_chars + 1000 AS n_chars,
                     CASE WHEN doc_id % 10 = 0 THEN 'delete' ELSE 'upsert' END AS op
              FROM documents WHERE doc_id % 2 = 0
            )
            SELECT t.doc_id, t.n_chars, 'kept' AS action
            FROM target t
            WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.doc_id = t.doc_id)
            UNION ALL
            SELECT s.doc_id, s.n_chars,
                   CASE WHEN EXISTS (SELECT 1 FROM target t WHERE t.doc_id = s.doc_id)
                        THEN 'updated' ELSE 'inserted' END AS action
            FROM src s WHERE s.op = 'upsert'
        """,
        "rename_column": """
            SELECT c_custkey AS id,
                   CASE WHEN c_custkey % 5 = 0
                        THEN CAST(round(c_acctbal * 100) AS BIGINT) + 3
                        ELSE CAST(round(c_acctbal * 100) AS BIGINT)
                   END AS pennies,
                   c_name AS name
            FROM customer
            WHERE c_custkey <= 150 AND c_custkey % 11 != 0
            ORDER BY id
        """,
        "restore_clone": """
            WITH base AS (
                SELECT c_custkey AS id, c_name AS name,
                       CAST(round(c_acctbal * 100) AS BIGINT) AS cents
                FROM customer WHERE c_custkey <= 200
            )
            SELECT id, name, cents,
                   CASE WHEN id % 13 = 0 THEN 'inserted'
                        WHEN id % 7 = 0 THEN 'updated'
                   END AS action
            FROM base ORDER BY id
        """,
        "sql_front_door": """
            WITH base AS (
              SELECT c_custkey AS id,
                     CAST(round(c_acctbal * 100) AS BIGINT) AS cents
              FROM customer WHERE c_custkey <= 300
            ), merged AS (
              SELECT id,
                     CASE WHEN id % 7 = 0 THEN cents + 55 ELSE cents END AS cents
              FROM base
              UNION ALL
              SELECT id + 9000 AS id, cents FROM base WHERE id <= 10
            ), cur AS (
              SELECT m.* FROM merged m
              WHERE m.id NOT IN (SELECT id FROM base WHERE id % 11 = 0)
            )
            SELECT COALESCE(c.id, o.id) AS id,
                   c.cents AS balance_cents,
                   o.cents AS old_cents,
                   CASE WHEN c.id IS NULL THEN 'deleted'
                        WHEN o.id IS NULL THEN 'inserted'
                        WHEN c.cents <> o.cents THEN 'changed'
                        ELSE 'same' END AS status
            FROM cur c FULL OUTER JOIN base o ON c.id = o.id
            ORDER BY id
        """,
        # same relational replay shape as indexed_table_ann, second index
        # kind: the serve is exhaustive-exact (nprobe = all cells + slack)
        # string-keyed co-committed ivfsq (r13): the exhaustive serve must
        # equal brute force over the merged/DV'd table with STRING ids
        "string_key_indexed_table": f"""
            WITH base AS (
              SELECT concat('doc-', lpad(CAST(vec_id AS VARCHAR), 6, '0')) AS k,
                     embedding, vec_id AS num
              FROM embeddings WHERE vec_id < 150
            ), merged AS (
              SELECT k, embedding FROM base WHERE num % 5 <> 0
              UNION ALL
              SELECT k, list_transform(embedding, x -> x * CAST(2.0 AS FLOAT))
              FROM base WHERE num % 5 = 0
              UNION ALL
              SELECT concat('new-', k) AS k, embedding
              FROM base WHERE num < 10
            ), live AS (
              SELECT m.* FROM merged m
              WHERE m.k NOT IN (SELECT k FROM base WHERE num % 11 = 0)
            ), q AS (
              SELECT embedding FROM base WHERE num = 7
            )
            SELECT l.k AS vec_id,
                   round({_duck_dot("l.embedding", "(SELECT embedding FROM q)")}, 6) AS score
            FROM live l
            ORDER BY score DESC, vec_id LIMIT {KNN_K}
        """,
        "indexed_table_ivfsq": f"""
            WITH base AS (
              SELECT vec_id, embedding FROM embeddings WHERE vec_id < 350
            ), merged AS (
              SELECT vec_id, embedding FROM base
              WHERE vec_id % 7 <> 0 AND vec_id >= 15
              UNION ALL
              SELECT vec_id, list_transform(embedding, x -> x * CAST(3.0 AS FLOAT)) AS embedding
              FROM base WHERE vec_id % 7 = 0
              UNION ALL
              SELECT vec_id, embedding FROM base
              WHERE vec_id < 15 AND vec_id % 7 <> 0
              UNION ALL
              SELECT vec_id + 20000 AS vec_id, embedding
              FROM base WHERE vec_id < 15
            ), live AS (
              SELECT m.* FROM merged m
              WHERE m.vec_id NOT IN (SELECT vec_id FROM base WHERE vec_id % 13 = 0)
            ), q AS (
              SELECT embedding FROM base WHERE vec_id = 11
            ), post AS (
              SELECT l.vec_id,
                     round({_duck_dot("l.embedding", "(SELECT embedding FROM q)")}, 6) AS score,
                     'post_merge' AS stage
              FROM live l
              ORDER BY score DESC, l.vec_id LIMIT {KNN_K}
            ), at_attach AS (
              SELECT b.vec_id,
                     round({_duck_dot("b.embedding", "(SELECT embedding FROM q)")}, 6) AS score,
                     'as_of_attach' AS stage
              FROM base b
              ORDER BY score DESC, b.vec_id LIMIT {KNN_K}
            )
            SELECT vec_id, score, stage FROM (
              SELECT * FROM post UNION ALL SELECT * FROM at_attach
            ) ORDER BY stage, score DESC, vec_id
        """,
        "indexed_table_ann": f"""
            WITH base AS (
              SELECT vec_id, embedding FROM embeddings WHERE vec_id < 400
            ), merged AS (
              SELECT vec_id, embedding FROM base WHERE vec_id % 10 <> 0
              UNION ALL
              SELECT vec_id, list_transform(embedding, x -> -x) AS embedding
              FROM base WHERE vec_id % 10 = 0
              UNION ALL
              SELECT vec_id + 10000 AS vec_id, embedding
              FROM base WHERE vec_id < 20
            ), live AS (
              SELECT m.* FROM merged m
              WHERE m.vec_id NOT IN (SELECT vec_id FROM base WHERE vec_id % 17 = 0)
            ), q AS (
              SELECT embedding FROM base WHERE vec_id = 3
            ), post AS (
              SELECT l.vec_id,
                     round({_duck_dot("l.embedding", "(SELECT embedding FROM q)")}, 6) AS score,
                     'post_merge' AS stage
              FROM live l
              ORDER BY score DESC, l.vec_id LIMIT {KNN_K}
            ), at_attach AS (
              SELECT b.vec_id,
                     round({_duck_dot("b.embedding", "(SELECT embedding FROM q)")}, 6) AS score,
                     'as_of_attach' AS stage
              FROM base b
              ORDER BY score DESC, b.vec_id LIMIT {KNN_K}
            )
            SELECT vec_id, score, stage FROM (
              SELECT * FROM post UNION ALL SELECT * FROM at_attach
            ) ORDER BY stage, score DESC, vec_id
        """,
        "merge_type_widening": """
            WITH target AS (
              SELECT doc_id, CAST(n_chars AS INTEGER) AS n_chars,
                     CAST(n_chars AS DOUBLE) / 4 AS score
              FROM documents WHERE doc_id % 3 <> 0
            ), src AS (
              SELECT doc_id, CAST(n_chars + 3000000000 AS BIGINT) AS n_chars,
                     CAST(n_chars AS DOUBLE) / 4 + 1000000.25 AS score
              FROM documents WHERE doc_id % 2 = 0
            ), merged AS (
              SELECT t.doc_id, CAST(t.n_chars AS BIGINT) AS n_chars,
                     t.score, 'kept' AS action
              FROM target t
              WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.doc_id = t.doc_id)
              UNION ALL
              SELECT s.doc_id, s.n_chars, s.score,
                     CASE WHEN EXISTS (SELECT 1 FROM target t
                                       WHERE t.doc_id = s.doc_id)
                          THEN 'updated' ELSE 'inserted' END AS action
              FROM src s
            )
            SELECT m.doc_id, m.n_chars, m.score, t.n_chars AS old_n_chars,
                   m.action
            FROM merged m LEFT JOIN target t ON m.doc_id = t.doc_id
            ORDER BY m.doc_id
        """,
        "merge_schema_evolution": """
            WITH target AS (
              SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 <> 0
            ), src AS (
              SELECT doc_id, n_chars + 1000 AS n_chars, lang,
                     CASE WHEN doc_id % 10 = 0 THEN 'delete' ELSE 'upsert' END AS op
              FROM documents WHERE doc_id % 2 = 0
            ), merged AS (
              SELECT t.doc_id, t.n_chars, CAST(NULL AS VARCHAR) AS lang,
                     'kept' AS action
              FROM target t
              WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.doc_id = t.doc_id)
              UNION ALL
              SELECT s.doc_id, s.n_chars, s.lang,
                     CASE WHEN EXISTS (SELECT 1 FROM target t
                                       WHERE t.doc_id = s.doc_id)
                          THEN 'updated' ELSE 'inserted' END AS action
              FROM src s WHERE s.op = 'upsert'
            )
            SELECT m.doc_id, m.n_chars, m.lang, t.n_chars AS old_n_chars,
                   m.action
            FROM merged m LEFT JOIN target t ON m.doc_id = t.doc_id
            ORDER BY m.doc_id
        """,
        "table_metadata": """
            WITH base AS (
                SELECT c_custkey AS id,
                       CAST(abs(round(c_acctbal * 100)) AS BIGINT) AS cents
                FROM customer WHERE c_custkey <= 120
            )
            SELECT id,
                   CASE WHEN id % 9 = 0 THEN cents + 100
                        WHEN id % 4 = 0 THEN cents + 250
                        ELSE cents END AS cents,
                   (CASE WHEN id % 9 = 0 THEN cents + 100
                         WHEN id % 4 = 0 THEN cents + 250
                         ELSE cents END) // 100 AS dollars
            FROM base ORDER BY id
        """,
        "drop_column": """
            WITH base AS (
                SELECT c_custkey AS id,
                       CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
                       c_name AS name
                FROM customer WHERE c_custkey <= 100
            )
            SELECT id,
                   CASE WHEN id % 10 = 0 THEN cents + 2
                        WHEN id % 6 = 0 THEN cents + 1
                        ELSE cents END AS cents,
                   name AS dropped_name
            FROM base ORDER BY id
        """,
        "null_skipping": """
            WITH d AS (
              SELECT doc_id, source,
                     CASE WHEN lang <> 'en' THEN lang END AS lang_nn
              FROM documents
            )
            SELECT source, count(*) AS n_docs,
                   sum(doc_id)::BIGINT AS sum_id, 'nonnull' AS which
            FROM d WHERE lang_nn IS NOT NULL GROUP BY source
            UNION ALL
            SELECT source, count(*) AS n_docs,
                   sum(doc_id)::BIGINT AS sum_id, 'null' AS which
            FROM d WHERE lang_nn IS NULL GROUP BY source
            ORDER BY which, source
        """,
        "time_travel_as_of": """
            WITH ks AS (SELECT unnest([1, 2, 3]) AS snapshot)
            SELECT k.snapshot,
                   count(*) AS n_orders,
                   sum(floor(o.o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS rev_cents
            FROM ks k JOIN orders o
              ON substring(o.o_orderpriority, 1, 1) <= CAST(k.snapshot AS VARCHAR)
            GROUP BY k.snapshot
            ORDER BY k.snapshot
        """,
        "label_propagation": """
            WITH raw AS (
                SELECT 'c' || o_custkey AS src, 'p' || l_partkey AS dst
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                WHERE o_orderkey % 4 = 0
            ),
            e AS (
                SELECT DISTINCT src, dst FROM (
                    SELECT src, dst FROM raw
                    UNION ALL SELECT dst AS src, src AS dst FROM raw
                )
            ),
            nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
            l0 AS (SELECT node, node AS label FROM nodes),
            c1 AS (
                SELECT e.dst AS node, l0.label, count(*) AS c
                FROM e JOIN l0 ON e.src = l0.node GROUP BY e.dst, l0.label
            ),
            p1 AS (
                SELECT node, label,
                       row_number() OVER (PARTITION BY node
                                          ORDER BY c DESC, label ASC) AS rn
                FROM c1
            ),
            l1 AS (
                SELECT n.node, coalesce(p.label, n.node) AS label
                FROM nodes n LEFT JOIN (SELECT node, label FROM p1 WHERE rn = 1) p
                  ON n.node = p.node
            ),
            c2 AS (
                SELECT e.dst AS node, l1.label, count(*) AS c
                FROM e JOIN l1 ON e.src = l1.node GROUP BY e.dst, l1.label
            ),
            p2 AS (
                SELECT node, label,
                       row_number() OVER (PARTITION BY node
                                          ORDER BY c DESC, label ASC) AS rn
                FROM c2
            )
            SELECT n.node, coalesce(p.label, l1.label) AS label
            FROM nodes n
            JOIN l1 ON n.node = l1.node
            LEFT JOIN (SELECT node, label FROM p2 WHERE rn = 1) p ON n.node = p.node
        """,
        "ols_closed_form": """
            WITH fx AS (
                SELECT floor(l_extendedprice)::BIGINT AS y,
                       floor(l_quantity)::BIGINT AS x1,
                       floor(100 * l_discount + 0.5)::BIGINT AS x2
                FROM lineitem
            ),
            s AS (
                SELECT count(*)::DOUBLE AS n,
                       sum(x1)::DOUBLE AS s1, sum(x2)::DOUBLE AS s2,
                       sum(x1 * x1)::DOUBLE AS s11, sum(x1 * x2)::DOUBLE AS s12,
                       sum(x2 * x2)::DOUBLE AS s22,
                       sum(y)::DOUBLE AS sy, sum(x1 * y)::DOUBLE AS s1y,
                       sum(x2 * y)::DOUBLE AS s2y,
                       count(*)::BIGINT AS n_rows
                FROM fx
            ),
            d AS (
                SELECT n_rows,
                       (n * (s11 * s22 - s12 * s12)
                        - s1 * (s1 * s22 - s12 * s2)
                        + s2 * (s1 * s12 - s11 * s2)) AS det,
                       (sy * (s11 * s22 - s12 * s12)
                        - s1 * (s1y * s22 - s12 * s2y)
                        + s2 * (s1y * s12 - s11 * s2y)) AS det0,
                       (n * (s1y * s22 - s12 * s2y)
                        - sy * (s1 * s22 - s12 * s2)
                        + s2 * (s1 * s2y - s1y * s2)) AS det1,
                       (n * (s11 * s2y - s1y * s12)
                        - s1 * (s1 * s2y - s1y * s2)
                        + sy * (s1 * s12 - s11 * s2)) AS det2
                FROM s
            )
            SELECT 'intercept' AS term, round(det0 / det, 6) AS coef, n_rows FROM d
            UNION ALL SELECT 'qty', round(det1 / det, 6), n_rows FROM d
            UNION ALL SELECT 'disc_pct', round(det2 / det, 6), n_rows FROM d
        """,
        "position_attribution": """
            WITH t AS (
                SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS tse, event_type
                FROM events
            ), marked AS (
                SELECT *, CASE WHEN lag(tse) OVER w IS NULL
                                 OR tse - lag(tse) OVER w >= 1800
                               THEN 1 ELSE 0 END AS is_start
                FROM t WINDOW w AS (PARTITION BY user_id ORDER BY tse, event_id)
            ), sess AS (
                SELECT *, sum(is_start) OVER (PARTITION BY user_id
                                              ORDER BY tse, event_id
                                              ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW) AS sid
                FROM marked
            ), conv AS (
                SELECT user_id, sid, tse AS cts, event_id AS cid
                FROM (
                    SELECT user_id, sid, tse, event_id,
                           row_number() OVER (PARTITION BY user_id, sid
                                              ORDER BY tse, event_id) AS rn
                    FROM sess WHERE event_type = 'purchase'
                ) WHERE rn = 1
            ), touches AS (
                SELECT s.user_id, s.sid, s.event_type, s.tse, s.event_id
                FROM sess s JOIN conv c ON s.user_id = c.user_id AND s.sid = c.sid
                WHERE s.event_type <> 'purchase'
                  AND (s.tse < c.cts OR (s.tse = c.cts AND s.event_id < c.cid))
            ), pos AS (
                SELECT event_type,
                       row_number() OVER (PARTITION BY user_id, sid
                                          ORDER BY tse, event_id) AS p,
                       count(*) OVER (PARTITION BY user_id, sid) AS m
                FROM touches
            )
            SELECT event_type AS channel,
                   sum(CASE WHEN m = 1 THEN 1000000
                            WHEN m = 2 THEN 500000
                            WHEN p = 1 THEN 400000
                            WHEN p = m THEN 400000
                            ELSE 200000 // (m - 2) END)::BIGINT AS credit_micros,
                   count(*)::BIGINT AS n_touches
            FROM pos GROUP BY event_type
        """,
        "audience_overlap": """
            WITH a AS (
                SELECT DISTINCT event_type AS g, user_id FROM events
                WHERE user_id IS NOT NULL
            ),
            s AS (SELECT g, count(*)::BIGINT AS n FROM a GROUP BY g),
            o AS (
                SELECT x.g AS group_a, y.g AS group_b, count(*)::BIGINT AS n_overlap
                FROM a x JOIN a y ON x.user_id = y.user_id AND x.g < y.g
                GROUP BY x.g, y.g
            )
            SELECT group_a, group_b, sa.n AS n_a, sb.n AS n_b, n_overlap,
                   round(n_overlap::DOUBLE / (sa.n + sb.n - n_overlap)::DOUBLE, 6)
                     AS jaccard
            FROM o JOIN s sa ON o.group_a = sa.g JOIN s sb ON o.group_b = sb.g
        """,
        "shortest_paths": """
            WITH raw AS (
                SELECT 'c' || o_custkey AS s, 'p' || l_partkey AS d,
                       floor(l_quantity)::BIGINT AS w
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            ),
            sym AS (
                SELECT s, d, w FROM raw
                UNION ALL SELECT d AS s, s AS d, w FROM raw
            ),
            e AS (SELECT s, d, min(w) AS w FROM sym GROUP BY s, d),
            d0 AS (SELECT 'c1' AS node, 0::BIGINT AS dist
                   UNION ALL SELECT 'c2', 0::BIGINT),
            r1 AS (
                SELECT node, min(dist) AS dist FROM (
                    SELECT node, dist FROM d0
                    UNION ALL
                    SELECT e.d AS node, d0.dist + e.w AS dist
                    FROM e JOIN d0 ON e.s = d0.node
                ) GROUP BY node
            ),
            r2 AS (
                SELECT node, min(dist) AS dist FROM (
                    SELECT node, dist FROM r1
                    UNION ALL
                    SELECT e.d AS node, r1.dist + e.w AS dist
                    FROM e JOIN r1 ON e.s = r1.node
                ) GROUP BY node
            )
            SELECT node, dist FROM r2
        """,
        "table_changes": """
            WITH target AS (
              SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 <> 0
            ), src AS (
              SELECT doc_id, n_chars + 1000 AS n_chars,
                     CASE WHEN doc_id % 10 = 0 THEN 'delete' ELSE 'upsert' END AS op
              FROM documents WHERE doc_id % 2 = 0
            )
            SELECT t.doc_id, 'updated' AS _action,
                   t.n_chars AS n_chars_old, s.n_chars AS n_chars_new
            FROM target t JOIN src s ON t.doc_id = s.doc_id
            WHERE s.op = 'upsert' AND t.n_chars IS DISTINCT FROM s.n_chars
            UNION ALL
            SELECT t.doc_id, 'deleted', t.n_chars, NULL
            FROM target t JOIN src s ON t.doc_id = s.doc_id
            WHERE s.op = 'delete'
            UNION ALL
            SELECT s.doc_id, 'inserted', NULL, s.n_chars
            FROM src s
            WHERE s.op = 'upsert'
              AND NOT EXISTS (SELECT 1 FROM target t WHERE t.doc_id = s.doc_id)
        """,
        # streamed merges maintain the co-committed index (r13): the
        # final exhaustive serve must equal brute force over the
        # relationally replayed two-batch upsert
        "stream_indexed_merge": f"""
            WITH base AS (
              SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100
            ), live AS (
              SELECT vec_id, embedding FROM base WHERE vec_id % 9 <> 0
              UNION ALL
              SELECT vec_id,
                     list_transform(embedding, x -> x * CAST(3.0 AS FLOAT))
              FROM base WHERE vec_id % 9 = 0
              UNION ALL
              SELECT vec_id + 7000 AS vec_id, embedding
              FROM base WHERE vec_id < 8
            ), q AS (
              SELECT embedding FROM base WHERE vec_id = 11
            )
            SELECT l.vec_id,
                   round({_duck_dot("l.embedding", "(SELECT embedding FROM q)")}, 6) AS score
            FROM live l
            ORDER BY score DESC, vec_id LIMIT {KNN_K}
        """,
        "stream_merge_replay": """
            WITH target AS (
              SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 <> 0
            ), changes AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 6 = 2 THEN n_chars + 1000
                          WHEN doc_id % 6 = 4 THEN n_chars + 2000 END AS n_chars,
                     CASE WHEN doc_id % 6 = 0 THEN 'delete' ELSE 'upsert' END AS op
              FROM documents
              WHERE doc_id % 6 IN (0, 2, 4)
            )
            SELECT t.doc_id, t.n_chars FROM target t
            WHERE NOT EXISTS (SELECT 1 FROM changes c WHERE c.doc_id = t.doc_id)
            UNION ALL
            SELECT c.doc_id, c.n_chars FROM changes c WHERE c.op = 'upsert'
        """,
        "modularity": """
            WITH raw AS (
                SELECT 'c' || o_custkey AS src, 'p' || l_partkey AS dst
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                WHERE o_orderkey % 4 = 0
            ),
            e AS (
                SELECT DISTINCT src, dst FROM (
                    SELECT src, dst FROM raw
                    UNION ALL SELECT dst AS src, src AS dst FROM raw
                )
            ),
            nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
            l0 AS (SELECT node, node AS label FROM nodes),
            c1 AS (
                SELECT e.dst AS node, l0.label, count(*) AS c
                FROM e JOIN l0 ON e.src = l0.node GROUP BY e.dst, l0.label
            ),
            p1 AS (
                SELECT node, label,
                       row_number() OVER (PARTITION BY node
                                          ORDER BY c DESC, label ASC) AS rn
                FROM c1
            ),
            l1 AS (
                SELECT n.node, coalesce(p.label, n.node) AS label
                FROM nodes n LEFT JOIN (SELECT node, label FROM p1 WHERE rn = 1) p
                  ON n.node = p.node
            ),
            c2 AS (
                SELECT e.dst AS node, l1.label, count(*) AS c
                FROM e JOIN l1 ON e.src = l1.node GROUP BY e.dst, l1.label
            ),
            p2 AS (
                SELECT node, label,
                       row_number() OVER (PARTITION BY node
                                          ORDER BY c DESC, label ASC) AS rn
                FROM c2
            ),
            l2 AS (
                SELECT n.node, coalesce(p.label, l1.label) AS label
                FROM nodes n
                JOIN l1 ON n.node = l1.node
                LEFT JOIN (SELECT node, label FROM p2 WHERE rn = 1) p ON n.node = p.node
            ),
            tm AS (SELECT count(*)::DOUBLE AS m2 FROM e),
            per_label AS (
                SELECT ls.label,
                       sum(CASE WHEN ls.label = ld.label THEN 1 ELSE 0 END)::BIGINT
                         AS intra_edges,
                       count(*)::BIGINT AS degree_sum
                FROM e
                JOIN l2 ls ON e.src = ls.node
                JOIN l2 ld ON e.dst = ld.node
                GROUP BY ls.label
            ),
            sizes AS (SELECT label, count(*)::BIGINT AS n_nodes FROM l2 GROUP BY label)
            SELECT s.label, s.n_nodes,
                   coalesce(p.intra_edges, 0) AS intra_edges,
                   coalesce(p.degree_sum, 0) AS degree_sum,
                   round(coalesce(p.intra_edges, 0)::DOUBLE / tm.m2
                         - (coalesce(p.degree_sum, 0)::DOUBLE / tm.m2)
                           * (coalesce(p.degree_sum, 0)::DOUBLE / tm.m2), 6) + 0.0
                     AS contribution
            FROM sizes s LEFT JOIN per_label p ON s.label = p.label CROSS JOIN tm
        """,
        "range_join_bucketed": """
            SELECT c_mktsegment,
                   count(*)::BIGINT AS n_pairs,
                   count(DISTINCT o_orderkey)::BIGINT AS n_orders,
                   count(DISTINCT c_custkey)::BIGINT AS n_customers
            FROM orders JOIN customer
              ON o_totalprice >= c_acctbal * 40 - 250
             AND o_totalprice <  c_acctbal * 40 + 250
            GROUP BY c_mktsegment
        """,
        "schema_evolution": """
            SELECT lang, count(*)::BIGINT AS n_docs,
                   count(CASE WHEN doc_id % 2 = 1 THEN 1 END)::BIGINT AS n_with_quality,
                   coalesce(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars % 100 END), 0)::BIGINT
                     AS quality_sum
            FROM documents GROUP BY lang
        """,
        # Adamic–Adar: wedge join over the capped-degree adjacency, the
        # same fixed-point 1e6/ln(deg) center weights, literal anti-join
        "adamic_adar": f"""
            WITH el AS (
              SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
              WHERE a.l_partkey % {AA_PART_MOD} = 0 AND b.l_partkey % {AA_PART_MOD} = 0
            ),
            sym AS (SELECT a, b FROM el UNION ALL SELECT b AS a, a AS b FROM el),
            deg AS (SELECT a AS z, count(*)::BIGINT AS dz FROM sym GROUP BY a),
            half AS (
              SELECT s.a AS z, s.b AS n,
                     floor(1000000.0 / ln(d.dz) + 0.5)::BIGINT AS wz
              FROM sym s JOIN deg d ON s.a = d.z
              WHERE d.dz >= 2 AND d.dz <= {AA_MAX_DEG}
            ),
            sc AS (
              SELECT l.n AS u, r.n AS w, count(*)::BIGINT AS common,
                     sum(l.wz)::BIGINT AS aa_micro
              FROM half l JOIN half r ON l.z = r.z AND l.n < r.n
              GROUP BY l.n, r.n HAVING count(*) >= 2
            )
            SELECT u, w, common, aa_micro,
                   round(aa_micro / 1000000.0, 6) AS aa_score
            FROM sc
            WHERE NOT EXISTS (SELECT 1 FROM el e WHERE e.a = sc.u AND e.b = sc.w)
        """,
        # positional inverted index: subscripts via generate_series (this
        # DuckDB lacks WITH ORDINALITY), positions intersect at +1 offsets
        "phrase_search": f"""
            WITH d AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
              FROM documents
            ),
            pidx AS (
              SELECT doc_id, unnest(generate_series(1, len(tk))) AS i, tk
              FROM d
            ),
            toks AS (SELECT doc_id, i, tk[i] AS tok FROM pidx),
            w0 AS (SELECT doc_id, i FROM toks WHERE tok = '{PHRASE.split()[0]}'),
            w1 AS (SELECT doc_id, i FROM toks WHERE tok = '{PHRASE.split()[1]}')
            SELECT w0.doc_id, count(*)::BIGINT AS n_matches
            FROM w0 JOIN w1 ON w1.doc_id = w0.doc_id AND w1.i = w0.i + 1
            GROUP BY w0.doc_id
        """,
        # LOCF: per-key day spine + IGNORE NULLS forward fill over exact
        # integer-cents daily sums
        "resample_locf": """
            WITH daily AS (
              SELECT user_id AS key, CAST(ts AS DATE) AS d,
                     sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS v
              FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
            ),
            spine AS (
              SELECT key,
                     CAST(unnest(generate_series(lo::TIMESTAMP, hi::TIMESTAMP,
                                                 INTERVAL 1 DAY)) AS DATE) AS d
              FROM (SELECT key, min(d) AS lo, max(d) AS hi FROM daily GROUP BY key)
            ),
            j AS (
              SELECT s.key, s.d, daily.v
              FROM spine s LEFT JOIN daily ON daily.key = s.key AND daily.d = s.d
            )
            SELECT key AS user_id, d AS day,
                   last_value(v IGNORE NULLS) OVER (
                     PARTITION BY key ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS value_cents,
                   (v IS NULL) AS is_filled
            FROM j
        """,
        # spatial: the literal O(n^2) theta join — the Spark grid must
        # reproduce it exactly
        "geo_neighbors": f"""
            WITH pts AS (
              SELECT c_custkey AS id,
                     ((('0x' || substr(md5('gx:' || c_custkey), 1, 15))::UBIGINT)
                       % 10000)::BIGINT AS x,
                     ((('0x' || substr(md5('gy:' || c_custkey), 1, 15))::UBIGINT)
                       % 10000)::BIGINT AS y
              FROM customer
            )
            SELECT a.id AS id_a, b.id AS id_b,
                   ((a.x - b.x) * (a.x - b.x)
                    + (a.y - b.y) * (a.y - b.y))::BIGINT AS dist2
            FROM pts a JOIN pts b
              ON a.id < b.id
             AND abs(a.x - b.x) <= {GEO_RADIUS} AND abs(a.y - b.y) <= {GEO_RADIUS}
            WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
                  <= {GEO_RADIUS * GEO_RADIUS}
        """,
        # KMV bottom-k sketch: md5 ranks replayed bit-for-bit; < k distinct
        # -> exact, else (k-1)*2^60/h_k
        "kmv_distinct": f"""
            WITH hx AS (
              SELECT DISTINCT event_type,
                     (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::UBIGINT)::BIGINT AS h
              FROM events WHERE user_id IS NOT NULL
            ),
            r AS (
              SELECT event_type, h,
                     row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
              FROM hx
            ),
            sk AS (SELECT * FROM r WHERE rk <= {KMV_K}),
            agg AS (
              SELECT event_type, count(*)::BIGINT AS n_sketch,
                     max(CASE WHEN rk = {KMV_K} THEN h END) AS hk
              FROM sk GROUP BY event_type
            )
            SELECT event_type, n_sketch,
                   CASE WHEN hk IS NULL THEN CAST(n_sketch AS DOUBLE)
                        ELSE round({(KMV_K - 1) * float(1 << 60)} / hk, 6)
                   END AS approx_distinct
            FROM agg
        """,
        # coordinated-sample intersection: union's bottom-k re-rank, the
        # query HLL cannot serve
        "kmv_overlap": f"""
            WITH hx AS (
              SELECT DISTINCT event_type,
                     (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::UBIGINT)::BIGINT AS h
              FROM events WHERE user_id IS NOT NULL
            ),
            r AS (
              SELECT event_type, h,
                     row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
              FROM hx
            ),
            sk AS (SELECT * FROM r WHERE rk <= {KMV_K}),
            pairs AS (
              SELECT a.event_type AS ga, b.event_type AS gb
              FROM (SELECT DISTINCT event_type FROM sk) a,
                   (SELECT DISTINCT event_type FROM sk) b
              WHERE a.event_type < b.event_type
            ),
            uni AS (
              SELECT ga, gb, h, max(ina) AS ina, max(inb) AS inb FROM (
                SELECT p.ga, p.gb, s.h, 1 AS ina, 0 AS inb
                FROM pairs p JOIN sk s ON s.event_type = p.ga
                UNION ALL
                SELECT p.ga, p.gb, s.h, 0, 1
                FROM pairs p JOIN sk s ON s.event_type = p.gb
              ) GROUP BY ga, gb, h
            ),
            rk2 AS (
              SELECT ga, gb, h, ina, inb,
                     row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rk
              FROM uni
            ),
            pp AS (
              SELECT ga, gb, count(*)::BIGINT AS k_union,
                     sum(ina * inb)::BIGINT AS n_common,
                     max(CASE WHEN rk = {KMV_K} THEN h END) AS hk
              FROM rk2 WHERE rk <= {KMV_K} GROUP BY ga, gb
            )
            SELECT ga AS group_a, gb AS group_b, k_union, n_common,
                   round(CAST(n_common AS DOUBLE) / CAST(k_union AS DOUBLE), 6)
                     AS jaccard,
                   round(CAST(n_common AS DOUBLE) / CAST(k_union AS DOUBLE)
                         * (CASE WHEN hk IS NULL THEN CAST(k_union AS DOUBLE)
                                 ELSE {(KMV_K - 1) * float(1 << 60)} / hk END), 6)
                     AS approx_intersection
            FROM pp
        """,
        # gaps-and-islands: consecutive days share (day - row_number)
        "activity_streaks": """
            WITH days AS (
              SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
              FROM events WHERE user_id IS NOT NULL
            ),
            isl AS (
              SELECT user_id, d,
                     d - CAST(row_number() OVER (
                           PARTITION BY user_id ORDER BY d) AS INTEGER) AS grp
              FROM days
            ),
            st AS (
              SELECT user_id, grp, count(*)::BIGINT AS len, max(d) AS end_d
              FROM isl GROUP BY user_id, grp
            )
            SELECT user_id, sum(len)::BIGINT AS n_active_days,
                   count(*)::BIGINT AS n_streaks,
                   max(len)::BIGINT AS longest_streak,
                   max(end_d) AS last_active_day
            FROM st GROUP BY user_id
        """,
        # ACF expanded to exact BIGINT moments; ONE final IEEE division
        "autocorrelation": f"""
            WITH daily AS (
              SELECT event_type AS grp, CAST(ts AS DATE) AS d,
                     count(*)::BIGINT AS x
              FROM events GROUP BY 1, 2
            ),
            idx AS (
              SELECT grp, x,
                     row_number() OVER (PARTITION BY grp ORDER BY d) AS t
              FROM daily
            ),
            tot AS (
              SELECT grp, count(*)::BIGINT AS n, sum(x)::BIGINT AS s,
                     sum(x * x)::BIGINT AS ss
              FROM daily GROUP BY grp
            ),
            lagv AS (
              SELECT a.grp, k.lag, sum(a.x * b.x)::BIGINT AS sxy,
                     sum(a.x)::BIGINT AS shead, sum(b.x)::BIGINT AS stail
              FROM idx a
              CROSS JOIN (VALUES (1), (2), (3)) AS k(lag)
              JOIN idx b ON b.grp = a.grp AND b.t = a.t - k.lag
              WHERE k.lag <= {ACF_MAX_LAG}
              GROUP BY a.grp, k.lag
            )
            SELECT l.grp AS event_type, CAST(l.lag AS INTEGER) AS lag,
                   t.n AS n_days,
                   CASE WHEN t.n * (t.n * t.ss - t.s * t.s) = 0 THEN 0.0
                        ELSE round(
                          CAST(t.n * t.n * l.sxy
                               - t.n * t.s * (l.shead + l.stail)
                               + (t.n - l.lag) * t.s * t.s AS DOUBLE)
                          / CAST(t.n * (t.n * t.ss - t.s * t.s) AS DOUBLE), 6)
                   END + 0.0 AS acf
            FROM lagv l JOIN tot t ON t.grp = l.grp
            WHERE t.n > l.lag
        """,
        # post-stratified ATE: exact integer-cents sums, one IEEE
        # division per mean
        "stratified_ate": """
            WITH base AS (
              SELECT c.c_mktsegment AS stratum,
                     (o.o_orderpriority = '1-URGENT') AS t,
                     floor(o.o_totalprice * 100 + 0.5)::BIGINT AS y
              FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            ),
            per AS (
              SELECT stratum, count(*)::BIGINT AS n,
                     sum(CASE WHEN t THEN 1 ELSE 0 END)::BIGINT AS n_treated,
                     coalesce(sum(CASE WHEN t THEN y END), 0)::BIGINT AS yt,
                     coalesce(sum(CASE WHEN NOT t THEN y END), 0)::BIGINT AS yc
              FROM base GROUP BY stratum
            )
            SELECT stratum, n, n_treated,
                   round(CASE WHEN n_treated > 0
                         THEN CAST(yt AS DOUBLE) / CAST(n_treated AS DOUBLE) END, 6)
                     AS mean_treated,
                   round(CASE WHEN n - n_treated > 0
                         THEN CAST(yc AS DOUBLE) / CAST(n - n_treated AS DOUBLE) END, 6)
                     AS mean_control,
                   round(CASE WHEN n_treated > 0
                         THEN CAST(yt AS DOUBLE) / CAST(n_treated AS DOUBLE) END
                         - CASE WHEN n - n_treated > 0
                           THEN CAST(yc AS DOUBLE) / CAST(n - n_treated AS DOUBLE) END, 6)
                     + 0.0 AS effect
            FROM per
        """,
        # decision stump: cumulative contingency over the n_chars
        # histogram, identical entropy expression tree
        "best_split": f"""
            WITH b AS (
              SELECT floor(n_chars / {SPLIT_WIDTH})::BIGINT AS bkt,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
              FROM documents
            ),
            hist AS (
              SELECT bkt, count(*)::BIGINT AS c, sum(y)::BIGINT AS p
              FROM b GROUP BY bkt
            ),
            cum AS (
              SELECT bkt,
                sum(c) OVER (ORDER BY bkt
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cl,
                sum(p) OVER (ORDER BY bkt
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pl,
                sum(c) OVER () AS nn, sum(p) OVER () AS pp
              FROM hist
            ),
            q AS (
              SELECT bkt, cl, pl, nn, pp,
                     CAST(pl AS DOUBLE) / CAST(cl AS DOUBLE) AS ql,
                     CAST(pp - pl AS DOUBLE) / CAST(nn - cl AS DOUBLE) AS qr,
                     CAST(pp AS DOUBLE) / CAST(nn AS DOUBLE) AS qa
              FROM cum WHERE nn - cl > 0
            )
            SELECT bkt * {SPLIT_WIDTH} AS threshold,
                   cl::BIGINT AS n_left, pl::BIGINT AS pos_left,
                   round(
                     (CASE WHEN qa > 0 AND qa < 1 THEN -qa * ln(qa) ELSE 0.0 END
                      + CASE WHEN 1 - qa > 0 AND 1 - qa < 1
                             THEN -(1 - qa) * ln(1 - qa) ELSE 0.0 END)
                     - (CAST(cl AS DOUBLE) / CAST(nn AS DOUBLE))
                       * (CASE WHEN ql > 0 AND ql < 1 THEN -ql * ln(ql) ELSE 0.0 END
                          + CASE WHEN 1 - ql > 0 AND 1 - ql < 1
                                 THEN -(1 - ql) * ln(1 - ql) ELSE 0.0 END)
                     - (CAST(nn - cl AS DOUBLE) / CAST(nn AS DOUBLE))
                       * (CASE WHEN qr > 0 AND qr < 1 THEN -qr * ln(qr) ELSE 0.0 END
                          + CASE WHEN 1 - qr > 0 AND 1 - qr < 1
                                 THEN -(1 - qr) * ln(1 - qr) ELSE 0.0 END), 6)
                     + 0.0 AS gain
            FROM q
        """,
        "jsonl_quarantine": """
            SELECT lang, count(*)::BIGINT AS n_docs,
                   sum(n_chars)::BIGINT AS total_chars
            FROM documents WHERE doc_id % 13 <> 0 GROUP BY lang
            UNION ALL
            SELECT '__QUARANTINED__', count(*)::BIGINT, 0::BIGINT
            FROM documents WHERE doc_id % 13 = 0
        """,
        "index_compact_demo": """
            WITH base AS (
              SELECT doc_id, n_chars FROM documents WHERE doc_id < 200
            )
            -- UPDATE-policy dedup keys on the WHOLE canonical item, so the
            -- changed-payload re-upsert ADDS items; the removals hit only
            -- the new-payload form
            SELECT '{"id":' || doc_id || ',"v":' || n_chars || '}' AS item
            FROM base
            UNION ALL
            SELECT '{"id":' || doc_id || ',"v":' || (n_chars + 7) || '}' AS item
            FROM base WHERE doc_id % 2 = 0 AND doc_id % 10 <> 0
        """,
        "orc_roundtrip": """
            SELECT l_returnflag, count(*)::BIGINT AS n_rows,
                   sum(round(100 * l_extendedprice)::BIGINT)::BIGINT AS price_cents,
                   sum(l_quantity)::BIGINT AS total_qty,
                   count(DISTINCT l_partkey)::BIGINT AS n_parts
            FROM lineitem GROUP BY 1
        """,
        # stream-static enrichment replay: stateless per-batch broadcast
        # join — replayed result must equal the plain batch join
        "stream_static_enrich_replay": """
            SELECT c_mktsegment, event_type, count(*)::BIGINT AS n_events,
                   sum(floor(value * 100)::BIGINT)::BIGINT AS sum_value_cents
            FROM events LEFT JOIN customer ON user_id = c_custkey
            GROUP BY 1, 2
        """,
        # CDC compaction: last-writer-wins per key, terminal tombstones drop
        "cdc_apply": """
            WITH c AS (
                SELECT user_id, event_id, event_type, value,
                       floor(epoch(ts))::BIGINT AS tse,
                       row_number() OVER (
                           PARTITION BY user_id
                           ORDER BY floor(epoch(ts))::BIGINT DESC, event_id DESC
                       ) AS rn,
                       count(*) OVER (PARTITION BY user_id) AS n_changes
                FROM events
            )
            SELECT user_id, event_type AS last_type,
                   floor(value * 100)::BIGINT AS last_value_cents,
                   tse AS last_tse, n_changes::BIGINT AS n_changes
            FROM c WHERE rn = 1 AND event_type <> 'error'
        """,
        # 2-D skyline over the distinct-price spine
        "skyline_frontier": """
            WITH pp AS (
                SELECT round(100 * p_retailprice)::BIGINT AS price_cents,
                       max(p_size) AS best_size
                FROM part GROUP BY 1
            ),
            f AS (
                SELECT price_cents, best_size,
                       max(best_size) OVER (
                           ORDER BY price_cents
                           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ) AS lower_best
                FROM pp
            )
            SELECT p_partkey, p_size, price_cents / 100.0 AS p_retailprice
            FROM part
            JOIN f ON round(100 * p_retailprice)::BIGINT = f.price_cents
                  AND p_size = f.best_size
            WHERE lower_best IS NULL OR best_size > lower_best
        """,
        # TPC-H Q8: share-of-total CASE ratio per order year
        "q8_market_share": """
            SELECT o_year,
                   round(sum(CASE WHEN nation = 'NATION_2' THEN volume ELSE 0.0 END)
                         / sum(volume), 6) AS mkt_share
            FROM (
                SELECT extract(year FROM o_orderdate)::INT AS o_year,
                       l_extendedprice * (1 - l_discount) AS volume,
                       n2.n_name AS nation
                FROM lineitem
                JOIN part ON p_partkey = l_partkey
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation n1 ON c_nationkey = n1.n_nationkey
                JOIN region ON n1.n_regionkey = r_regionkey
                JOIN nation n2 ON s_nationkey = n2.n_nationkey
                WHERE r_name = 'ASIA' AND p_type = 'PROMO'
                  AND o_orderdate >= TIMESTAMP '1996-01-01'
                  AND o_orderdate < TIMESTAMP '1998-01-01'
            )
            GROUP BY o_year
        """,
        # near-dup degree: symmetrized LSH pairs, groupBy, 0 for clean docs
        "dup_degree": f"""
            WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
            shx AS (
                SELECT doc_id, unnest(list_distinct({sh})) AS shingle FROM toks
            ),
            sig AS (SELECT doc_id, {minhash_cols} FROM shx GROUP BY doc_id),
            pairs AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({band_cond})
            ),
            sym AS (
                SELECT id_a AS doc_id FROM pairs
                UNION ALL SELECT id_b FROM pairs
            ),
            deg AS (SELECT doc_id, count(*)::BIGINT AS dup_degree FROM sym GROUP BY 1)
            SELECT d.doc_id, coalesce(deg.dup_degree, 0)::BIGINT AS dup_degree
            FROM documents d LEFT JOIN deg ON deg.doc_id = d.doc_id
        """,
        # CUPED: theta and rho^2 from exact integer sums; expression
        # order mirrored so the doubles are bit-equal
        "cuped_adjustment": f"""
            WITH mid AS (
                SELECT (min(floor(epoch(ts))::BIGINT)
                        + max(floor(epoch(ts))::BIGINT)) // 2 AS m
                FROM events WHERE user_id IS NOT NULL
            ),
            pu AS (
                SELECT user_id,
                       sum(CASE WHEN event_type = 'purchase'
                                 AND floor(epoch(ts))::BIGINT < mid.m
                                THEN floor(value * 100 + 0.5)::BIGINT
                                ELSE 0 END)::BIGINT AS x,
                       sum(CASE WHEN event_type = 'purchase'
                                 AND floor(epoch(ts))::BIGINT >= mid.m
                                THEN floor(value * 100 + 0.5)::BIGINT
                                ELSE 0 END)::BIGINT AS y,
                       CASE WHEN ({_DUCK_MD5_BIGINT.format(expr="'ab:' || CAST(user_id AS VARCHAR)")} % 2) = 0
                            THEN 'control' ELSE 'treatment' END AS grp
                FROM events CROSS JOIN mid
                WHERE user_id IS NOT NULL
                GROUP BY user_id
            ),
            st AS (
                SELECT count(*)::BIGINT AS n,
                       sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                       sum(x * y)::BIGINT AS sxy,
                       sum(x * x)::BIGINT AS sxx,
                       sum(y * y)::BIGINT AS syy
                FROM pu
            ),
            g AS (
                SELECT grp, count(*)::BIGINT AS n_users,
                       sum(y)::BIGINT AS syg, sum(x)::BIGINT AS sxg
                FROM pu GROUP BY 1
            )
            SELECT grp, n_users,
                   round(syg::DOUBLE / n_users, 6) AS mean_post,
                   round(syg::DOUBLE / n_users
                         - ((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE)
                           * (sxg::DOUBLE / n_users - sx::DOUBLE / n), 6) AS mean_adj,
                   round((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE, 6) AS theta,
                   round((n * sxy - sx * sy)::DOUBLE * (n * sxy - sx * sy)::DOUBLE
                         / ((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE), 6) AS var_reduction
            FROM g CROSS JOIN st
        """,
        # cohort LTV: first-week cohorts, exact cents, per-cohort cumsum
        "cohort_ltv": """
            WITH f AS (
                SELECT user_id,
                       min(floor(epoch(ts))::BIGINT // 604800) AS cohort
                FROM events WHERE user_id IS NOT NULL GROUP BY 1
            ),
            rev AS (
                SELECT f.cohort,
                       (floor(epoch(e.ts))::BIGINT // 604800) - f.cohort AS age_weeks,
                       sum(floor(e.value * 100 + 0.5)::BIGINT)::BIGINT AS cents
                FROM events e JOIN f ON f.user_id = e.user_id
                WHERE e.event_type = 'purchase'
                GROUP BY 1, 2
            ),
            sizes AS (SELECT cohort, count(*)::BIGINT AS cohort_users FROM f GROUP BY 1)
            SELECT r.cohort, r.age_weeks, s.cohort_users, r.cents,
                   (sum(r.cents) OVER w)::BIGINT AS cum_cents,
                   round((sum(r.cents) OVER w)::DOUBLE / s.cohort_users / 100.0, 6) AS ltv_per_user
            FROM rev r JOIN sizes s ON s.cohort = r.cohort
            WINDOW w AS (PARTITION BY r.cohort ORDER BY r.age_weeks
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        # RFM: three rank-quintiles with custkey tie-break, exact cents
        "rfm_segments": """
            WITH base AS (
                SELECT o_custkey,
                       max(floor(epoch(o_orderdate))::BIGINT) AS lastt,
                       count(*)::BIGINT AS frequency,
                       sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS monetary_cents
                FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1
            ),
            nn AS (SELECT count(*) AS n FROM base),
            s AS (
                SELECT o_custkey, frequency, monetary_cents,
                       (((row_number() OVER (ORDER BY lastt, o_custkey) - 1) * 5) // nn.n)::INT + 1 AS r_score,
                       (((row_number() OVER (ORDER BY frequency, o_custkey) - 1) * 5) // nn.n)::INT + 1 AS f_score,
                       (((row_number() OVER (ORDER BY monetary_cents, o_custkey) - 1) * 5) // nn.n)::INT + 1 AS m_score
                FROM base CROSS JOIN nn
            )
            SELECT o_custkey, frequency, monetary_cents, r_score, f_score, m_score,
                   r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR AS rfm
            FROM s
        """,
        # Pareto curve: exact integer cents, rank desc, 10-row cumulative
        "pareto_curve": """
            WITH cust AS (
                SELECT o_custkey,
                       sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS cents
                FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1
            ),
            r AS (
                SELECT cents,
                       row_number() OVER (ORDER BY -cents, o_custkey) AS rn,
                       count(*) OVER () AS n,
                       sum(cents) OVER () AS tot
                FROM cust
            ),
            d AS (
                SELECT (((rn - 1) * 10) // n)::INT AS decile,
                       count(*)::BIGINT AS n_customers,
                       sum(cents)::BIGINT AS cents,
                       max(tot) AS tot
                FROM r GROUP BY 1
            )
            SELECT decile, n_customers, cents,
                   round((sum(cents) OVER (ORDER BY decile
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE
                         / tot, 6) AS cum_share
            FROM d
        """,
        # source embedding similarity: 1e-3 fixed-point per-dim sums,
        # cosine of SUM vectors (scale-invariant = centroid cosine)
        "source_embedding_sim": """
            WITH e AS (
                SELECT d.source, emb.embedding
                FROM embeddings emb JOIN documents d ON d.doc_id = emb.vec_id
            ),
            dims AS (
                SELECT source, g.i AS dim,
                       sum(floor(embedding[g.i]::DOUBLE * 1e3 + 0.5)::BIGINT)::BIGINT AS s
                FROM e CROSS JOIN generate_series(1, 64) g(i)
                GROUP BY 1, 2
            ),
            prods AS (
                SELECT a.source AS src_a, b.source AS src_b,
                       sum(a.s * b.s)::BIGINT AS dot
                FROM dims a JOIN dims b ON a.dim = b.dim AND a.source <= b.source
                GROUP BY 1, 2
            ),
            norms AS (
                SELECT src_a AS src, dot AS nsq FROM prods WHERE src_a = src_b
            )
            SELECT p.src_a, p.src_b,
                   round(p.dot::DOUBLE / (sqrt(na.nsq::DOUBLE) * sqrt(nb.nsq::DOUBLE)), 6) AS cosine
            FROM prods p
            JOIN norms na ON na.src = p.src_a
            JOIN norms nb ON nb.src = p.src_b
            WHERE p.src_a < p.src_b
        """,
        # growth accounting: lag-classified (user, week) activity + a
        # forward-shifted anti-join for churn
        "growth_accounting": """
            WITH uw AS (
                SELECT DISTINCT user_id,
                       (floor(epoch(ts))::BIGINT // 604800) AS week
                FROM events WHERE user_id IS NOT NULL
            ),
            fl AS (
                SELECT user_id, week,
                       lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev,
                       min(week) OVER (PARTITION BY user_id) AS firstw
                FROM uw
            ),
            st AS (
                SELECT week,
                       CASE WHEN week = firstw THEN 'new'
                            WHEN prev = week - 1 THEN 'retained'
                            ELSE 'resurrected' END AS status
                FROM fl
            ),
            act AS (
                SELECT week,
                       sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END)::BIGINT AS n_new,
                       sum(CASE WHEN status = 'retained' THEN 1 ELSE 0 END)::BIGINT AS n_ret,
                       sum(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END)::BIGINT AS n_res
                FROM st GROUP BY 1
            ),
            ch AS (
                SELECT a.week + 1 AS week, count(*)::BIGINT AS n_churn
                FROM uw a
                WHERE NOT EXISTS (
                    SELECT 1 FROM uw b
                    WHERE b.user_id = a.user_id AND b.week = a.week + 1
                )
                GROUP BY 1
            )
            SELECT coalesce(act.week, ch.week) AS week,
                   coalesce(n_new, 0)::BIGINT AS "new",
                   coalesce(n_ret, 0)::BIGINT AS retained,
                   coalesce(n_res, 0)::BIGINT AS resurrected,
                   coalesce(n_churn, 0)::BIGINT AS churned
            FROM act FULL OUTER JOIN ch ON act.week = ch.week
        """,
        # DAU/WAU: (user, day) dedupe first, each row supports its 7 days
        "rolling_active_users": """
            WITH ud AS (
                SELECT DISTINCT user_id,
                       (floor(epoch(ts))::BIGINT // 86400) AS day
                FROM events WHERE user_id IS NOT NULL
            ),
            dau AS (SELECT day, count(*)::BIGINT AS dau FROM ud GROUP BY 1),
            sup AS (
                SELECT user_id, day + t.d AS day
                FROM ud CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6]) AS d) t
            ),
            wau AS (
                SELECT day, count(DISTINCT user_id)::BIGINT AS wau
                FROM sup GROUP BY 1
            )
            SELECT dau.day, dau.dau, wau.wau,
                   round(dau.dau::DOUBLE / wau.wau, 6) AS stickiness
            FROM dau JOIN wau ON dau.day = wau.day
        """,
        # cross-source duplication: LSH pairs + source lookups, pair key
        # canonicalized (least, greatest)
        "cross_source_dup": f"""
            WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
            shx AS (
                SELECT doc_id, unnest(list_distinct({sh})) AS shingle FROM toks
            ),
            sig AS (SELECT doc_id, {minhash_cols} FROM shx GROUP BY doc_id),
            pairs AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({band_cond})
            ),
            lab AS (
                SELECT least(da.source, db.source) AS src_a,
                       greatest(da.source, db.source) AS src_b
                FROM pairs
                JOIN documents da ON da.doc_id = pairs.id_a
                JOIN documents db ON db.doc_id = pairs.id_b
            )
            SELECT src_a, src_b, count(*)::BIGINT AS n_pairs,
                   (CASE WHEN src_a = src_b THEN 1 ELSE 0 END)::INT AS within_source
            FROM lab GROUP BY 1, 2
        """,
        # burstiness: mu/sigma from exact integer sums; identical
        # expression order keeps the doubles bit-equal cross-engine
        "user_burstiness": """
            WITH t AS (
                SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS tse
                FROM events WHERE user_id IS NOT NULL
            ), g AS (
                SELECT user_id,
                       tse - lag(tse) OVER (
                           PARTITION BY user_id ORDER BY tse, event_id
                       ) AS gap
                FROM t
            ), agg AS (
                SELECT user_id, count(*)::BIGINT AS n_gaps,
                       sum(gap)::BIGINT AS s1, sum(gap * gap)::BIGINT AS s2
                FROM g WHERE gap IS NOT NULL GROUP BY 1
                HAVING count(*) >= 5
            )
            SELECT user_id, n_gaps,
                   CASE WHEN sqrt(greatest(
                              s2::DOUBLE / n_gaps
                              - (s1::DOUBLE / n_gaps) * (s1::DOUBLE / n_gaps),
                              0.0))
                             + (s1::DOUBLE / n_gaps) > 0
                        THEN round(
                            (sqrt(greatest(
                                 s2::DOUBLE / n_gaps
                                 - (s1::DOUBLE / n_gaps) * (s1::DOUBLE / n_gaps),
                                 0.0))
                             - (s1::DOUBLE / n_gaps))
                            / (sqrt(greatest(
                                   s2::DOUBLE / n_gaps
                                   - (s1::DOUBLE / n_gaps) * (s1::DOUBLE / n_gaps),
                                   0.0))
                               + (s1::DOUBLE / n_gaps)), 6)
                   END AS burstiness
            FROM agg
        """,
        # temperature mix: sqrt is correctly rounded on every IEEE engine,
        # so micro-fixed-pointed sqrt(n) makes all ratios exact-integer
        "temperature_mix": """
            WITH c AS (
                SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY 1
            ),
            s AS (
                SELECT source, n_docs,
                       floor(sqrt(n_docs::DOUBLE) * 1e6 + 0.5)::BIGINT AS sv
                FROM c
            ),
            t AS (SELECT sum(sv)::BIGINT AS st, sum(n_docs)::BIGINT AS nt FROM s)
            SELECT source, n_docs,
                   round(sv::DOUBLE / st, 6) AS weight,
                   round((sv::DOUBLE * nt) / (st::DOUBLE * n_docs), 6) AS eff_epochs
            FROM s CROSS JOIN t
        """,
        # churn labels: conditional-agg groupBy + broadcast horizon
        "churn_labels": """
            WITH h AS (SELECT max(floor(epoch(ts))::BIGINT) AS h FROM events),
            pu AS (
                SELECT user_id,
                       count(*)::BIGINT AS n_events,
                       sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchases,
                       max(floor(epoch(ts))::BIGINT) AS lastt,
                       min(floor(epoch(ts))::BIGINT) AS firstt
                FROM events WHERE user_id IS NOT NULL GROUP BY 1
            )
            SELECT user_id, n_events, n_purchases,
                   ((lastt - firstt) // 86400)::INT AS span_days,
                   (CASE WHEN lastt < h.h - 2592000 THEN 1 ELSE 0 END)::INT AS churned
            FROM pu CROSS JOIN h
        """,
        # Heaps' law: new vocab lands at each token's FIRST doc; decile
        # rollup + 10-row cumulative window
        "vocab_growth": f"""
            WITH nmax AS (SELECT max(doc_id) + 1 AS n FROM documents),
            tok AS (
                SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents
            ),
            b AS (
                SELECT ((doc_id * 10) // nmax.n)::INT AS decile, tok
                FROM tok CROSS JOIN nmax
            ),
            tp AS (SELECT decile, count(*)::BIGINT AS n_tokens FROM b GROUP BY 1),
            fs AS (SELECT tok, min(decile) AS decile FROM b GROUP BY 1),
            vp AS (SELECT decile, count(*)::BIGINT AS n_new_vocab FROM fs GROUP BY 1),
            m AS (
                SELECT coalesce(tp.decile, vp.decile) AS decile,
                       coalesce(n_tokens, 0)::BIGINT AS n_tokens,
                       coalesce(n_new_vocab, 0)::BIGINT AS n_new_vocab
                FROM tp FULL OUTER JOIN vp ON tp.decile = vp.decile
            )
            SELECT decile, n_tokens, n_new_vocab,
                   (sum(n_tokens) OVER w)::BIGINT AS cum_tokens,
                   (sum(n_new_vocab) OVER w)::BIGINT AS cum_vocab
            FROM m
            WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        # LSH scorecard: exact shingle-Jaccard truth vs banded candidates,
        # counts + exact-ratio precision/recall (NULL-guarded)
        "lsh_dedup_quality": f"""
            WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
            shx AS (
                SELECT doc_id, unnest(list_distinct({sh})) AS shingle FROM toks
            ),
            sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shx GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
                FROM shx a JOIN shx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            truth AS (
                SELECT id_a, id_b FROM inter
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
                WHERE round(common::DOUBLE / (sa.n_shingles + sb.n_shingles - common), 6)
                      >= {JACCARD_THRESHOLD}
            ),
            sig AS (SELECT doc_id, {minhash_cols} FROM shx GROUP BY doc_id),
            cand AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({band_cond})
            ),
            hit AS (SELECT id_a, id_b FROM truth INTERSECT SELECT id_a, id_b FROM cand),
            c AS (
                SELECT (SELECT count(*) FROM truth)::BIGINT AS n_truth,
                       (SELECT count(*) FROM cand)::BIGINT AS n_candidates,
                       (SELECT count(*) FROM hit)::BIGINT AS n_hit
            )
            SELECT n_truth, n_candidates, n_hit,
                   CASE WHEN n_candidates > 0
                        THEN round(n_hit::DOUBLE / n_candidates, 6) END AS precision,
                   CASE WHEN n_truth > 0
                        THEN round(n_hit::DOUBLE / n_truth, 6) END AS recall
            FROM c
        """,
        # vocab drift: two word counts + full-outer merge, top-20 |delta|
        "vocab_drift": f"""
            WITH tok AS (
                SELECT doc_id % 2 = 0 AS olds, unnest({_DUCK_TOKENS}) AS tok
                FROM documents
            ),
            co AS (SELECT tok, count(*)::BIGINT AS n_old FROM tok WHERE olds GROUP BY 1),
            cn AS (SELECT tok, count(*)::BIGINT AS n_new FROM tok WHERE NOT olds GROUP BY 1),
            m AS (
                SELECT coalesce(co.tok, cn.tok) AS tok,
                       coalesce(n_old, 0)::BIGINT AS n_old,
                       coalesce(n_new, 0)::BIGINT AS n_new
                FROM co FULL OUTER JOIN cn ON co.tok = cn.tok
            )
            SELECT tok, n_old, n_new, (n_new - n_old)::BIGINT AS delta
            FROM m
            ORDER BY abs(n_new - n_old) DESC, tok ASC
            LIMIT 20
        """,
        # exact-proportion stratified split: salted-rank within stratum,
        # fold boundaries by pure integer arithmetic
        "stratified_split": f"""
            WITH r AS (
                SELECT doc_id, lang,
                       row_number() OVER (
                           PARTITION BY lang
                           ORDER BY {_duck_md5_bigint("'strat:' || doc_id")}, doc_id
                       ) AS rn,
                       count(*) OVER (PARTITION BY lang) AS n
                FROM documents
            )
            SELECT doc_id, lang,
                   CASE WHEN ((rn - 1) * 10) // n < 8 THEN 'train'
                        WHEN ((rn - 1) * 10) // n < 9 THEN 'val'
                        ELSE 'test' END AS fold
            FROM r
        """,
        # signup -> first-purchase latency: conditional-min groupBy, then
        # a whole-day bucket rollup; -1 = no purchase at/after signup
        "time_to_conversion": """
            WITH pu AS (
                SELECT user_id,
                       min(CASE WHEN event_type = 'signup'
                                THEN floor(epoch(ts))::BIGINT END) AS s,
                       min(CASE WHEN event_type = 'purchase'
                                THEN floor(epoch(ts))::BIGINT END) AS p
                FROM events GROUP BY 1
            )
            SELECT CASE WHEN p >= s THEN ((p - s) // 86400)::INT
                        ELSE -1 END AS days_to_convert,
                   count(*)::BIGINT AS n_users
            FROM pu WHERE s IS NOT NULL GROUP BY 1
        """,
        # Markov transitions: lead() per user stream (ts, id tie-break),
        # then the bounded type-grid groupBy; probs are exact int ratios
        "event_transitions": """
            WITH t AS (
                SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS tse,
                       event_type
                FROM events
            ), pairs AS (
                SELECT event_type AS from_type,
                       lead(event_type) OVER (
                           PARTITION BY user_id ORDER BY tse, event_id
                       ) AS to_type
                FROM t
            ), grid AS (
                SELECT from_type, to_type, count(*)::BIGINT AS n
                FROM pairs WHERE to_type IS NOT NULL
                GROUP BY 1, 2
            )
            SELECT from_type, to_type, n,
                   round(n::DOUBLE / sum(n) OVER (PARTITION BY from_type), 6) AS prob
            FROM grid
        """,
        "l_diversity": """
            SELECT c_nationkey, floor(c_acctbal / 100)::INT AS bal_band,
                   count(*)::BIGINT AS group_size,
                   count(DISTINCT c_mktsegment)::BIGINT AS n_sensitive
            FROM customer
            GROUP BY 1, 2
            HAVING count(DISTINCT c_mktsegment) < 3
        """,
        "dp_noisy_counts": f"""
            WITH n AS (
                SELECT event_type, count(*) AS c FROM events GROUP BY 1
            ),
            u AS (
                SELECT event_type, c,
                       ({_DUCK_MD5_BIGINT.format(expr="'dp:' || event_type")} + 1)
                       / {float(1 << 60)!r} AS u
                FROM n
            )
            SELECT event_type,
                   greatest(round(c + (-(1.0 / {DP_EPSILON!r})
                                       * sign(u - 0.5)
                                       * ln(1.0 - 2.0 * abs(u - 0.5)))),
                            0)::BIGINT AS noisy_count
            FROM u
        """,
        "winsorized_stats": f"""
            WITH cuts AS (
                SELECT event_type,
                       quantile_cont(value, {WINSOR_LO!r}) AS lo_cut,
                       quantile_cont(value, {WINSOR_HI!r}) AS hi_cut
                FROM events GROUP BY event_type
            ),
            clipped AS (
                SELECT e.event_type,
                       least(greatest(e.value::DOUBLE, c.lo_cut), c.hi_cut) AS w,
                       c.lo_cut, c.hi_cut
                FROM events e JOIN cuts c USING (event_type)
            )
            SELECT event_type, count(w)::BIGINT AS n,
                   round(any_value(lo_cut), 6) AS lo_cut,
                   round(any_value(hi_cut), 6) AS hi_cut,
                   round(avg(w), 6) AS winsorized_mean,
                   round(stddev_samp(w), 6) AS winsorized_std
            FROM clipped GROUP BY event_type
        """,
        "chi_square_mix": """
            WITH c0 AS (
                SELECT event_type AS a, 'c' || (user_id % 3) AS b,
                       count(*)::DOUBLE AS o
                FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
            ),
            c AS (
                SELECT g.a, g.b, coalesce(c0.o, 0.0) AS o
                FROM (SELECT DISTINCT a FROM c0) ga
                CROSS JOIN (SELECT DISTINCT b FROM c0) gb,
                LATERAL (SELECT ga.a AS a, gb.b AS b) g
                LEFT JOIN c0 ON c0.a = g.a AND c0.b = g.b
            ),
            t AS (
                SELECT o,
                       sum(o) OVER (PARTITION BY a) AS ra,
                       sum(o) OVER (PARTITION BY b) AS cb,
                       sum(o) OVER () AS n,
                       a, b
                FROM c
            )
            SELECT max(n)::BIGINT AS n,
                   ((count(DISTINCT a) - 1) * (count(DISTINCT b) - 1))::BIGINT AS dof,
                   round(sum((o - ra * cb / n) * (o - ra * cb / n) / (ra * cb / n)), 6) AS chi2
            FROM t
        """,
        "benford_audit": """
            WITH d AS (
                SELECT regexp_extract(CAST(abs(o_totalprice) AS VARCHAR), '([1-9])', 1) AS digit
                FROM orders
                WHERE o_totalprice IS NOT NULL AND abs(o_totalprice) > 0
            ),
            g AS (
                SELECT digit, count(*)::BIGINT AS n FROM d
                WHERE digit BETWEEN '1' AND '9' GROUP BY 1
            ),
            t AS (SELECT digit, n, sum(n) OVER () AS tot, CASE digit WHEN '1' THEN 0.3010299956639812::DOUBLE WHEN '2' THEN 0.17609125905568124::DOUBLE WHEN '3' THEN 0.12493873660829992::DOUBLE WHEN '4' THEN 0.09691001300805642::DOUBLE WHEN '5' THEN 0.07918124604762482::DOUBLE WHEN '6' THEN 0.06694678963061322::DOUBLE WHEN '7' THEN 0.05799194697768673::DOUBLE WHEN '8' THEN 0.05115252244738129::DOUBLE WHEN '9' THEN 0.04575749056067514::DOUBLE END AS b FROM g)
            SELECT digit, n,
                   round(n / tot, 6) AS observed_share,
                   round(b, 6) AS benford_share,
                   round((n / tot - b) * (n / tot - b) / b * tot, 6) AS chi2_term
            FROM t
        """,
        "rp_project": f"""
            SELECT vec_id,
                   {", ".join(f"round({_duck_dot('embedding', _duck_plane_lit(p))}, 6) AS rp{i}" for i, p in enumerate(PLANES))}
            FROM embeddings
        """,
        "group_regression": """
            SELECT event_type, count(value)::BIGINT AS n,
                   round(regr_slope(value, epoch_us(ts) / 1000000.0) * 86400.0, 6) AS slope_per_day,
                   round(regr_intercept(value, epoch_us(ts) / 1000000.0), 2) AS intercept,
                   round(corr(value, epoch_us(ts) / 1000000.0), 6) AS pearson_r
            FROM events GROUP BY event_type
        """,
        "token_entropy": f"""
            WITH tok AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents),
            tf AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
            wt AS (
                SELECT doc_id, c,
                       c::DOUBLE / sum(c) OVER (PARTITION BY doc_id) AS p
                FROM tf
            )
            SELECT doc_id, sum(c)::BIGINT AS n_tokens,
                   count(*)::BIGINT AS n_distinct,
                   round(sum(-p * ln(p)), 6) AS entropy
            FROM wt GROUP BY doc_id
        """,
        "simhash_pairs": f"""
            -- brute-force ground truth: the Spark side prunes with the
            -- pigeonhole block index, which is LOSSLESS for hamming<=t
            WITH toks AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents),
            hashed AS (SELECT doc_id, {_duck_md5_bigint("'sh:' || tok")} AS h FROM toks),
            bits AS (SELECT doc_id, {sh_pair_bit_sums} FROM hashed GROUP BY doc_id),
            sig AS (SELECT doc_id, {sh_pair_recombine} AS simhash FROM bits)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(xor(a.simhash, b.simhash))::INT AS hamming
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= {SH_MAX_HAMMING}
        """,
        "ngram_jaccard": f"""
            WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
            shx AS (
                SELECT doc_id, unnest(list_distinct({sh})) AS shingle FROM toks
            ),
            sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shx GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
                FROM shx a JOIN shx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(common::DOUBLE / (sa.n_shingles + sb.n_shingles - common), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE round(common::DOUBLE / (sa.n_shingles + sb.n_shingles - common), 6) >= {JACCARD_THRESHOLD}
        """,
        "ngram_jaccard_maxdf": f"""
            WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
            shx0 AS (
                SELECT doc_id, unnest(list_distinct({sh})) AS shingle FROM toks
            ),
            keep AS (
                SELECT shingle FROM shx0 GROUP BY shingle
                HAVING count(*) <= {NJ_MAXDF}
            ),
            shx AS (
                SELECT shx0.doc_id, shx0.shingle FROM shx0 JOIN keep USING (shingle)
            ),
            sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shx GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
                FROM shx a JOIN shx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(common::DOUBLE / (sa.n_shingles + sb.n_shingles - common), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE round(common::DOUBLE / (sa.n_shingles + sb.n_shingles - common), 6) >= {JACCARD_THRESHOLD}
        """,
        "embedding_neardup": f"""
            WITH sig AS (
                SELECT vec_id, embedding,
                       {_duck_signature("embedding")} AS bucket,
                       sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
                FROM embeddings
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round({_duck_dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS cos
            FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE round({_duck_dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) >= {NEARDUP_COS}
        """,
        "percentiles_by_flag": """
            SELECT l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
                   round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
                   round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
                   round(quantile_cont(l_extendedprice, 0.95), 6) AS p95,
                   count(*) AS n_rows
            FROM lineitem GROUP BY l_returnflag
        """,
        "asof_join": """
            WITH v AS (
                SELECT user_id, ts, max(value) AS view_value
                FROM events WHERE event_type = 'view' GROUP BY 1, 2
            ), p AS (
                SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'
            )
            SELECT p.user_id, p.event_id,
                   round(p.value, 2) AS purchase_value,
                   round(v.view_value, 2) AS view_value,
                   floor(epoch(v.ts))::BIGINT AS view_ts
            FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
        """,
        "range_join_bands": """
            WITH bands(band, lo, hi) AS (
                VALUES ('budget', 0.0, 100000.0), ('mid', 100000.0, 250000.0),
                       ('premium', 250000.0, 1e12)
            )
            SELECT band, count(*) AS n_orders, round(avg(o_totalprice), 2) AS avg_price
            FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
            GROUP BY band
        """,
        "tfidf_top_terms": f"""
            WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
            tok AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM d),
            tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
            df_ AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
            n AS (SELECT count(*) AS n_docs FROM d),
            scored AS (
                SELECT tf.doc_id, tf.tok,
                       round(tf.tf * ln(n.n_docs::DOUBLE / df_.df::DOUBLE), 6) AS tfidf
                FROM tf JOIN df_ USING (tok), n
            ),
            ranked AS (
                SELECT doc_id, tok, tfidf,
                       row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rnk
                FROM scored
            )
            SELECT doc_id, tok, tfidf, rnk FROM ranked WHERE rnk <= 3
        """,
        "ivf_topk": f"""
            WITH qd AS (
                SELECT unnest(range(0, {IVF_K})) AS cell,
                       unnest([{", ".join(_duck_dot("(SELECT embedding FROM embeddings WHERE vec_id = 0)", _duck_plane_lit(c)) for c in CENTROIDS)}]) AS d
            ),
            probe AS (SELECT cell FROM qd ORDER BY d DESC, cell LIMIT {IVF_NPROBE}),
            cells AS (
                SELECT vec_id, embedding, {_duck_ivf_cell("embedding")} AS cell
                FROM embeddings
            )
            SELECT c.vec_id,
                   round({_duck_dot("c.embedding", "(SELECT embedding FROM embeddings WHERE vec_id = 0)")}, 6) AS score
            FROM cells c
            WHERE c.cell IN (SELECT cell FROM probe)
            ORDER BY score DESC, c.vec_id LIMIT {KNN_K}
        """,
        "window_distribution": """
            WITH w AS (
                SELECT c_mktsegment, c_custkey,
                       ntile(4) OVER win AS quartile,
                       round(percent_rank() OVER win, 6) AS pct_rank,
                       round(cume_dist() OVER win, 6) AS cume
                FROM customer
                WINDOW win AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
            )
            SELECT * FROM w WHERE c_custkey < 200
        """,
        "batch_sessionization": """
            WITH t AS (
                SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS tse FROM events
            ), marked AS (
                SELECT user_id, event_id, tse,
                       CASE WHEN lag(tse) OVER w IS NULL OR tse - lag(tse) OVER w >= 1800
                            THEN 1 ELSE 0 END AS is_start
                FROM t WINDOW w AS (PARTITION BY user_id ORDER BY tse, event_id)
            ), sess AS (
                SELECT user_id, tse,
                       (sum(is_start) OVER (PARTITION BY user_id ORDER BY tse, event_id
                                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_seq
                FROM marked
            )
            SELECT user_id, session_seq, count(*) AS n_events,
                   min(tse) AS session_start, max(tse) AS session_end
            FROM sess GROUP BY user_id, session_seq
        """,
        # Native F.session_window semantics replayed as gaps-and-islands:
        # Spark merges an event into the open session iff its ts is <=
        # session_end (= last ts + gap) INCLUSIVE — verified at sf0.1 where
        # a gap of exactly 1800s merges — so a new island starts only when
        # the inter-event gap STRICTLY EXCEEDS 1800s; session_end =
        # max(ts) + 1800.
        "session_window_agg": """
            WITH t AS (
                SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS tse, value
                FROM events
            ), marked AS (
                SELECT user_id, event_id, tse, value,
                       CASE WHEN lag(tse) OVER w IS NULL OR tse - lag(tse) OVER w > 1800
                            THEN 1 ELSE 0 END AS is_start
                FROM t WINDOW w AS (PARTITION BY user_id ORDER BY tse, event_id)
            ), sess AS (
                SELECT user_id, tse, value,
                       sum(is_start) OVER (PARTITION BY user_id ORDER BY tse, event_id
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                FROM marked
            )
            SELECT user_id,
                   min(tse) AS session_start,
                   max(tse) + 1800 AS session_end,
                   count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM sess GROUP BY user_id, sid
        """,
        "full_outer_revenue": """
            WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1),
                 s AS (SELECT s_nationkey AS nk2, count(*) AS n_supp FROM supplier GROUP BY 1)
            SELECT coalesce(nk, nk2) AS nationkey,
                   coalesce(n_cust, 0) AS n_cust,
                   coalesce(n_supp, 0) AS n_supp
            FROM c FULL OUTER JOIN s ON nk = nk2
        """,
        "rolling_event_stats": """
            SELECT event_id, event_type,
                   count(*) OVER w AS n_last_hour,
                   round(sum(value) OVER w, 2) AS sum_last_hour
            FROM events
            WINDOW w AS (PARTITION BY event_type ORDER BY floor(epoch(ts))::BIGINT
                         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        """,
        "unpivot_quantities": """
            WITH wide AS (
                SELECT l_returnflag,
                       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_f,
                       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_o
                FROM lineitem GROUP BY l_returnflag
            )
            SELECT l_returnflag, 'qty_f' AS status_col, qty_f AS qty FROM wide
            UNION ALL
            SELECT l_returnflag, 'qty_o' AS status_col, qty_o AS qty FROM wide
        """,
        "grouping_sets_revenue": """
            SELECT year(o_orderdate) AS order_year, o_orderpriority,
                   (GROUPING(year(o_orderdate)) * 2 + GROUPING(o_orderpriority))::INT AS gid,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders
            GROUP BY GROUPING SETS ((year(o_orderdate), o_orderpriority),
                                    (year(o_orderdate)), ())
        """,
        "exists_subqueries": """
            SELECT c_custkey, c_mktsegment FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        """,
        "pivot_status": """
            SELECT l_returnflag,
                   round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_f,
                   round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_o
            FROM lineitem GROUP BY l_returnflag
        """,
        "salted_agg": """
            SELECT l_returnflag,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_price,
                   count(*) AS n_rows
            FROM lineitem GROUP BY l_returnflag
        """,
        "global_ranking": """
            SELECT o_orderkey,
                   round(o_totalprice, 2) AS o_totalprice,
                   row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS global_rank
            FROM orders
        """,
        "hash_split": f"""
            SELECT doc_id,
                   CASE WHEN (('0x' || substr(md5('smp:' || doc_id), 1, 15))::UBIGINT)::BIGINT
                             % 10000 < {int(round(TEST_FRACTION * 10000))}
                        THEN 'test' ELSE 'train' END AS split
            FROM documents
        """,
        "chunk_documents": f"""
            WITH d AS (
                SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents WHERE doc_id < 100
            ),
            nc AS (
                SELECT doc_id, t,
                       greatest(ceil((len(t) - {CHUNK_OVERLAP})::DOUBLE
                                     / {CHUNK_TOKENS - CHUNK_OVERLAP}), 1)::INT AS n
                FROM d
            ),
            ex AS (SELECT doc_id, t, unnest(range(0, n))::INT AS chunk_idx FROM nc)
            SELECT doc_id, chunk_idx,
                   array_to_string(t[chunk_idx*{CHUNK_TOKENS - CHUNK_OVERLAP}+1
                                     : chunk_idx*{CHUNK_TOKENS - CHUNK_OVERLAP}+{CHUNK_TOKENS}], ' ') AS chunk_text,
                   len(t[chunk_idx*{CHUNK_TOKENS - CHUNK_OVERLAP}+1
                         : chunk_idx*{CHUNK_TOKENS - CHUNK_OVERLAP}+{CHUNK_TOKENS}])::INT AS n_tokens
            FROM ex
        """,
        "quantized_knn": f"""
            WITH qz AS (
                SELECT vec_id,
                       CASE WHEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 = 0
                            THEN 1.0
                            ELSE list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
                       END AS scale,
                       embedding
                FROM embeddings
            ),
            qq AS (
                SELECT vec_id, scale,
                       list_transform(embedding, x -> round(CAST(x AS DOUBLE) / scale)::TINYINT) AS q
                FROM qz
            )
            SELECT vec_id,
                   round(scale * list_sum(list_transform(
                       list_zip(q, (SELECT embedding FROM embeddings WHERE vec_id = 0)),
                       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), 6) AS score
            FROM qq
            ORDER BY score DESC, vec_id LIMIT {KNN_K}
        """,
        # two-stage retrieval: quantized candidate generation replayed with
        # the identical int8 scheme, then exact float rerank of candidates
        "rerank_quantized": f"""
            WITH qz AS (
                SELECT vec_id,
                       CASE WHEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 = 0
                            THEN 1.0
                            ELSE list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
                       END AS scale,
                       embedding
                FROM embeddings
            ),
            qq AS (
                SELECT vec_id, scale,
                       list_transform(embedding, x -> round(CAST(x AS DOUBLE) / scale)::TINYINT) AS q
                FROM qz
            ),
            cand AS (
                SELECT vec_id FROM (
                    SELECT vec_id,
                           round(scale * list_sum(list_transform(
                               list_zip(q, (SELECT embedding FROM embeddings WHERE vec_id = 0)),
                               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), 6) AS score
                    FROM qq
                    ORDER BY score DESC, vec_id LIMIT {RERANK_CAND}
                )
            )
            SELECT e.vec_id,
                   round({_duck_dot("e.embedding", "(SELECT embedding FROM embeddings WHERE vec_id = 0)")}, 6) AS score
            FROM embeddings e JOIN cand USING (vec_id)
            ORDER BY score DESC, e.vec_id LIMIT {KNN_K}
        """,
        "similarity_join": f"""
            WITH l AS (
                SELECT vec_id, embedding,
                       sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nl
                FROM embeddings
            ), q AS (
                SELECT vec_id AS q_id, embedding AS q_embedding,
                       sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nr
                FROM embeddings WHERE vec_id < 3
            )
            SELECT l.vec_id, q.q_id,
                   round({_duck_dot("l.embedding", "q.q_embedding")} / (l.nl * q.nr), 6) AS cos
            FROM l, q
            WHERE round({_duck_dot("l.embedding", "q.q_embedding")} / (l.nl * q.nr), 6) >= 0.2
        """,
        "lsh_topk": f"""
            WITH sig AS (
                SELECT vec_id, embedding, {_duck_signature("embedding")} AS bucket
                FROM embeddings
            ), q AS (SELECT embedding AS qe, bucket AS qb FROM sig WHERE vec_id = 0)
            SELECT s.vec_id, round({_duck_dot("s.embedding", "q.qe")}, 6) AS score
            FROM sig s, q
            WHERE s.bucket = q.qb
            ORDER BY score DESC, s.vec_id LIMIT {KNN_K}
        """,
        # multi-probe LSH: the probe set is every signature within Hamming
        # distance LSH_PROBE_T of the query's — XOR of the query bucket with
        # each ≤T-bit mask (bijective per mask, so no duplicate candidates).
        "lsh_multiprobe": f"""
            WITH sig AS (
                SELECT vec_id, embedding, {_duck_signature("embedding")} AS bucket
                FROM embeddings
            ), q AS (SELECT embedding AS qe, bucket AS qb FROM sig WHERE vec_id = 0),
            m(mv) AS (VALUES {_lsh_probe_masks_values()})
            SELECT s.vec_id, round({_duck_dot("s.embedding", "q.qe")}, 6) AS score
            FROM sig s, q, m
            WHERE s.bucket = xor(q.qb, mv)
            ORDER BY score DESC, s.vec_id LIMIT {KNN_K}
        """,
        "udtf_token_positions": f"""
            WITH d AS (
                SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents WHERE doc_id < 20
            )
            SELECT doc_id, (generate_subscripts(t, 1) - 1)::INT AS pos, unnest(t) AS tok
            FROM d
        """,
        "corpus_prep_pipeline": f"""
            WITH base AS (
                SELECT doc_id, text, {_DUCK_TOKENS} AS toks FROM documents
            ), m AS (
                SELECT doc_id, text,
                       len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','it'], x)))::DOUBLE
                           / greatest(len(toks), 1) AS sw,
                       (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                           / greatest(length(text), 1) AS pr,
                       list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                           / greatest(len(toks), 1) AS mtl
                FROM base
            ), q AS (
                SELECT doc_id, text FROM m
                WHERE round(least(sw * 4.0, 1.0) * 0.5 + (1.0 - least(pr * 5.0, 1.0)) * 0.3 +
                            (CASE WHEN mtl >= 3.0 AND mtl <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.2, 6)
                      >= {QUALITY_MIN}
            ), win AS (
                SELECT min(doc_id) AS doc_id FROM (
                    SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
                    FROM q
                ) GROUP BY fp
            ), clean AS (
                SELECT q.doc_id, {_DUCK_TOKENS.replace("text", "q.text")} AS t
                FROM q JOIN win USING (doc_id)
            ), nc AS (
                SELECT doc_id, t,
                       greatest(ceil((len(t) - {CHUNK_OVERLAP})::DOUBLE
                                     / {CHUNK_TOKENS - CHUNK_OVERLAP}), 1)::INT AS n
                FROM clean
            ), ex AS (SELECT doc_id, t, unnest(range(0, n))::INT AS i FROM nc)
            SELECT doc_id, count(*) AS n_chunks,
                   sum(len(t[i*{CHUNK_TOKENS - CHUNK_OVERLAP}+1
                             : i*{CHUNK_TOKENS - CHUNK_OVERLAP}+{CHUNK_TOKENS}]))::BIGINT AS total_tokens
            FROM ex GROUP BY doc_id
        """,
        "text_signals": f"""
            WITH base AS (
                SELECT doc_id, text, {_DUCK_TOKENS} AS toks FROM documents
            ), m AS (
                SELECT doc_id,
                       len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','it'], x)))::DOUBLE
                           / greatest(len(toks), 1) AS sw,
                       (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                           / greatest(length(text), 1) AS pr,
                       list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                           / greatest(len(toks), 1) AS mtl,
                       (len(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> ''))
                        + len(list_filter(regexp_split_to_array(text, '[^0-9]+'), x -> x <> ''))
                        + (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))))::BIGINT AS bpe_tokens
                FROM base
            )
            SELECT doc_id,
                   round(least(sw * 4.0, 1.0) * 0.5 + (1.0 - least(pr * 5.0, 1.0)) * 0.3 +
                         (CASE WHEN mtl >= 3.0 AND mtl <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.2, 6) AS quality,
                   CASE WHEN sw > 0 THEN 'en' ELSE 'other' END AS lang_guess,
                   bpe_tokens
            FROM m
        """,
        "text_stats": f"""
            SELECT lang, count(*) AS n_docs,
                   round(avg(n_chars), 6) AS avg_chars,
                   round(avg(len({_DUCK_TOKENS})), 6) AS avg_tokens,
                   sum(len({_DUCK_TOKENS}))::BIGINT AS total_tokens
            FROM documents GROUP BY lang
        """,
        "text_quality": f"""
            WITH base AS (
                SELECT doc_id, text, {_DUCK_TOKENS} AS toks,
                       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
                FROM documents
            )
            SELECT doc_id, fingerprint,
                   round(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','it'], x)))::DOUBLE
                         / greatest(len(toks), 1), 6) AS stopword_ratio,
                   round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                         / greatest(length(text), 1), 6) AS punct_ratio,
                   round(list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                         / greatest(len(toks), 1), 6) AS mean_token_len
            FROM base
        """,
        "media_stats": """
            SELECT 'application/octet-stream' AS mime,
                   count(*) AS n_media,
                   sum(octet_length(encode(text)))::BIGINT AS total_bytes,
                   max((length(text) % 640 + 1)::INT) AS max_width,
                   max((length(text) % 480 + 1)::INT) AS max_height
            FROM documents
        """,
        "media_frames": """
            WITH m AS (
                SELECT doc_id AS media_id, text,
                       ceil(length(text)::DOUBLE / 64)::INT AS nf
                FROM documents
                WHERE octet_length(encode(text)) = length(text)
            ),
            ex AS (
                SELECT media_id, text, unnest(range(0, greatest(nf, 1)))::INT AS frame_idx
                FROM m
            )
            SELECT media_id, frame_idx,
                   md5(substring(text, frame_idx * 64 + 1, 64)) AS frame_md5,
                   length(substring(text, frame_idx * 64 + 1, 64))::INT AS n_bytes
            FROM ex WHERE frame_idx % 2 = 0
        """,
        "scd2_user_status": """
            WITH o AS (
                SELECT user_id, event_type, ts, event_id,
                       lag(event_type) OVER w AS prev,
                       row_number() OVER w AS rn
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            tr AS (
                SELECT user_id, event_type, ts, event_id FROM o
                WHERE rn = 1 OR event_type IS DISTINCT FROM prev
            )
            SELECT user_id, event_type,
                   floor(epoch(ts))::BIGINT AS valid_from,
                   floor(epoch(lead(ts) OVER w2))::BIGINT AS valid_to,
                   (lead(ts) OVER w2) IS NULL AS is_current
            FROM tr
            WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "embed_cache_hits": f"""
            WITH fp AS (
                SELECT doc_id,
                       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
                FROM documents
            ),
            cache AS (
                SELECT f.fingerprint, arg_min(e.embedding, e.vec_id) AS embedding
                FROM fp f JOIN embeddings e ON f.doc_id = e.vec_id
                WHERE f.doc_id % {EMBED_CACHE_MOD} = 0
                GROUP BY f.fingerprint
            )
            SELECT f.doc_id, f.fingerprint,
                   c.fingerprint IS NOT NULL AS was_cached,
                   CASE WHEN c.fingerprint IS NOT NULL THEN
                       round(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE))), 4)
                   END AS cached_emb_sum,
                   CASE WHEN c.fingerprint IS NOT NULL THEN len(c.embedding)
                        ELSE 64 END::INT AS emb_dim
            FROM fp f LEFT JOIN cache c ON f.fingerprint = c.fingerprint
        """,
        "data_expectations": """
            WITH v AS (
                SELECT
                    count(*) FILTER (WHERE text IS NULL) AS v0,
                    count(doc_id) - count(DISTINCT doc_id) AS v1,
                    count(*) FILTER (WHERE n_chars IS NOT NULL
                                     AND n_chars NOT BETWEEN 1 AND 2000) AS v2,
                    count(*) FILTER (WHERE lang IS NOT NULL
                                     AND lang NOT IN ('en','de','fr','es','zh')) AS v3,
                    count(*) FILTER (WHERE source IS NOT NULL
                                     AND NOT regexp_matches(source, '^src[0-9]+$')) AS v4,
                    count(*) AS n
                FROM documents
            )
            SELECT 'not_null_text' AS rule, v0 AS violations, n AS n_rows, v0 = 0 AS passed FROM v
            UNION ALL SELECT 'unique_doc_id', v1, n, v1 = 0 FROM v
            UNION ALL SELECT 'in_range_n_chars', v2, n, v2 = 0 FROM v
            UNION ALL SELECT 'in_set_lang', v3, n, v3 = 0 FROM v
            UNION ALL SELECT 'matches_source', v4, n, v4 = 0 FROM v
        """,
        "weighted_mix": f"""
            WITH w(source, wt) AS (VALUES {", ".join(f"({s!r}, {wt!r})" for s, wt in MIX_WEIGHTS.items())}),
            d AS (
                SELECT doc_id, documents.source,
                       coalesce(wt, 0.0) AS wt,
                       ((('0x' || substr(md5('smp:' || doc_id), 1, 15))::UBIGINT)::BIGINT
                        % 10000)::DOUBLE / 10000 AS u
                FROM documents LEFT JOIN w ON documents.source = w.source
            ),
            c AS (
                SELECT doc_id, source,
                       (floor(wt) + CASE WHEN u < wt - floor(wt) THEN 1 ELSE 0 END)::INT AS copies
                FROM d
            )
            SELECT doc_id, source, unnest(range(1, copies + 1))::INT AS copy_idx
            FROM c WHERE copies > 0
        """,
        "media_pooled": """
            WITH m AS (
                SELECT doc_id AS media_id, text,
                       ceil(length(text)::DOUBLE / 64)::INT AS nf
                FROM documents
                WHERE octet_length(encode(text)) = length(text)
            ),
            fr AS (
                SELECT media_id,
                       md5(substring(text, f * 64 + 1, 64)) AS h
                FROM m, unnest(range(0, greatest(nf, 1), 2)) AS t(f)
            )
            SELECT media_id, count(*) AS n_frames,
                   round(avg((('0x' || substr(h, 1, 8))::UBIGINT)::DOUBLE / 4294967296), 6) AS p0,
                   round(avg((('0x' || substr(h, 9, 8))::UBIGINT)::DOUBLE / 4294967296), 6) AS p1,
                   round(avg((('0x' || substr(h, 17, 8))::UBIGINT)::DOUBLE / 4294967296), 6) AS p2,
                   round(avg((('0x' || substr(h, 25, 8))::UBIGINT)::DOUBLE / 4294967296), 6) AS p3
            FROM fr GROUP BY media_id
        """,
        "funnel_conversion": """
            WITH s0 AS (
                SELECT user_id, min(ts) AS t FROM events
                WHERE event_type = 'signup' AND user_id IS NOT NULL GROUP BY 1
            ),
            s1 AS (
                SELECT e.user_id, min(e.ts) AS t
                FROM events e JOIN s0 ON e.user_id = s0.user_id AND e.ts >= s0.t
                WHERE e.event_type = 'view' GROUP BY 1
            ),
            s2 AS (
                SELECT e.user_id, min(e.ts) AS t
                FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.t
                WHERE e.event_type = 'purchase' GROUP BY 1
            )
            SELECT 0 AS step, 'signup' AS step_name, (SELECT count(*) FROM s0) AS n_users
            UNION ALL SELECT 1, 'view', (SELECT count(*) FROM s1)
            UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2)
        """,
        "retention_cohorts": """
            WITH p AS (
                SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
            ),
            f AS (SELECT user_id, min(w) AS cw FROM p GROUP BY 1)
            SELECT floor(epoch(cw))::BIGINT AS cohort_week,
                   (date_diff('day', cw, w) // 7)::INT AS period_offset,
                   count(DISTINCT p.user_id) AS n_users
            FROM p JOIN f USING (user_id)
            GROUP BY 1, 2
        """,
        "snapshot_diff": """
            WITH fpo AS (
                SELECT doc_id,
                       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fo
                FROM documents
            ),
            n0 AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
                FROM documents WHERE doc_id % 11 <> 0
                UNION ALL
                SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 20
            ),
            fpn AS (
                SELECT doc_id,
                       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fn
                FROM n0
            ),
            j AS (
                SELECT coalesce(fpo.doc_id, fpn.doc_id) AS doc_id,
                       CASE WHEN fpo.doc_id IS NULL THEN 'added'
                            WHEN fpn.doc_id IS NULL THEN 'removed'
                            WHEN fo <> fn THEN 'changed' END AS change
                FROM fpo FULL OUTER JOIN fpn ON fpo.doc_id = fpn.doc_id
            )
            SELECT doc_id, change FROM j WHERE change IS NOT NULL
        """,
        "pagerank": f"""
            WITH raw AS (
                SELECT 'c' || o_custkey AS src, 'p' || l_partkey AS dst
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            ),
            e AS (
                SELECT DISTINCT src, dst FROM (
                    SELECT src, dst FROM raw
                    UNION ALL SELECT dst AS src, src AS dst FROM raw
                )
            ),
            nodes AS (
                SELECT src AS node FROM e UNION SELECT dst FROM e
            ),
            nn AS (SELECT count(*) AS n FROM nodes),
            deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
            r0 AS (
                SELECT node, 1.0::DOUBLE / nn.n AS pr FROM nodes CROSS JOIN nn
            ),
            c1 AS (
                SELECT e.dst AS node, sum(r0.pr / deg.deg) AS cin
                FROM e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src
                GROUP BY e.dst
            ),
            -- dangling-mass redistribution, mirroring graph.pagerank's
            -- uniform spread (the symmetrized graph has no dangling
            -- sources, so dm = 0 here — but the recurrence must carry the
            -- term so a future edge-construction change cannot silently
            -- diverge from the Spark operator)
            dang1 AS (
                SELECT coalesce(sum(r0.pr), 0.0) AS dm FROM r0
                LEFT JOIN deg ON r0.node = deg.src WHERE deg.src IS NULL
            ),
            r1 AS (
                SELECT nodes.node,
                       (1.0::DOUBLE - {PR_DAMP!r}::DOUBLE) / nn.n
                       + {PR_DAMP!r}::DOUBLE
                         * (coalesce(c1.cin, 0.0) + dang1.dm / nn.n) AS pr
                FROM nodes CROSS JOIN nn CROSS JOIN dang1
                LEFT JOIN c1 ON nodes.node = c1.node
            ),
            c2 AS (
                SELECT e.dst AS node, sum(r1.pr / deg.deg) AS cin
                FROM e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src
                GROUP BY e.dst
            ),
            dang2 AS (
                SELECT coalesce(sum(r1.pr), 0.0) AS dm FROM r1
                LEFT JOIN deg ON r1.node = deg.src WHERE deg.src IS NULL
            ),
            r2 AS (
                SELECT nodes.node,
                       (1.0::DOUBLE - {PR_DAMP!r}::DOUBLE) / nn.n
                       + {PR_DAMP!r}::DOUBLE
                         * (coalesce(c2.cin, 0.0) + dang2.dm / nn.n) AS pr
                FROM nodes CROSS JOIN nn CROSS JOIN dang2
                LEFT JOIN c2 ON nodes.node = c2.node
            )
            SELECT node, round(pr, 6) AS pr_rank FROM r2
        """,
        "decayed_engagement": f"""
            WITH mx AS (SELECT max(ts) AS now FROM events)
            SELECT event_type,
                   round(sum(value * pow(0.5,
                       ((epoch_us(mx.now) / 1000000.0)
                        - (epoch_us(ts) / 1000000.0))
                       / 86400.0 / {DECAY_HL_DAYS!r})), 6) AS decayed_sum,
                   count(value)::BIGINT AS n_events
            FROM events CROSS JOIN mx
            GROUP BY event_type
        """,
        "seasonal_anomaly": f"""
            WITH b AS (
                SELECT event_type, CAST(ts AS DATE) AS bucket_date,
                       extract(hour FROM ts)::INT AS hour_of_day,
                       count(*)::BIGINT AS n
                FROM events GROUP BY 1, 2, 3
            ),
            base AS (
                SELECT event_type, hour_of_day,
                       round(avg(n), 6) AS baseline_mean,
                       round(stddev_samp(n), 6) AS baseline_std
                FROM b GROUP BY 1, 2
            ),
            z AS (
                SELECT b.event_type, b.bucket_date, b.hour_of_day, b.n,
                       base.baseline_mean, base.baseline_std,
                       round((b.n - base.baseline_mean)
                             / nullif(base.baseline_std, 0.0), 6) AS zscore
                FROM b JOIN base USING (event_type, hour_of_day)
            )
            SELECT event_type, bucket_date, hour_of_day, n,
                   baseline_mean, baseline_std, zscore,
                   coalesce(abs(zscore) > {SEAS_K!r}, false) AS is_anomaly
            FROM z
        """,
        "term_label_pmi": f"""
            WITH pairs AS (
                SELECT lang AS label, doc_id,
                       unnest(list_distinct({_DUCK_TOKENS})) AS tok
                FROM documents
            ),
            joint AS (
                SELECT tok, label, count(*) AS n_tl FROM pairs GROUP BY 1, 2
            ),
            jt AS (
                SELECT *, sum(n_tl) OVER (PARTITION BY tok) AS n_t FROM joint
            ),
            lbl AS (SELECT lang AS label, count(*) AS n_l FROM documents GROUP BY 1),
            tot AS (SELECT count(*) AS n_docs FROM documents)
            SELECT label, tok, n_tl::BIGINT AS n_tl,
                   round(ln(n_tl::DOUBLE * n_docs::DOUBLE
                            / (n_t::DOUBLE * n_l::DOUBLE)), 6) AS pmi
            FROM jt JOIN lbl USING (label) CROSS JOIN tot
            WHERE n_tl >= {PMI_MIN_COUNT}
        """,
        "jaccard_prefix": f"""
            -- brute-force ground truth: the Spark side prunes with prefix
            -- filtering, which is LOSSLESS, so the pair sets must be equal
            WITH d AS (
                SELECT doc_id, list_distinct({_DUCK_TOKENS}) AS toks
                FROM documents WHERE doc_id < {JPJ_DOC_CAP}
            ),
            p AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       len(list_intersect(a.toks, b.toks)) AS inter,
                       len(a.toks) AS sa, len(b.toks) AS sb
                FROM d a JOIN d b ON a.doc_id < b.doc_id
            )
            SELECT id_a, id_b,
                   round(inter::DOUBLE / (sa + sb - inter)::DOUBLE, 6) AS jaccard
            FROM p
            WHERE round(inter::DOUBLE / (sa + sb - inter)::DOUBLE, 6) >= {JPJ_T!r}
        """,
        "cosine_pairs": f"""
            WITH d AS (
                SELECT doc_id, text FROM documents WHERE doc_id < {COS_DOC_CAP}
            ),
            tok AS (
                SELECT doc_id AS id, unnest({_DUCK_TOKENS}) AS tok FROM d
            ),
            tf AS (SELECT id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
            dfq AS (
                SELECT tok, count(*) AS df FROM tf GROUP BY 1
                HAVING count(*) <= {COS_MAX_DF}
            ),
            nn AS (SELECT count(*) AS n FROM d),
            w AS (
                SELECT id, tok,
                       tf::DOUBLE * ln(nn.n::DOUBLE / df::DOUBLE) AS w
                FROM tf JOIN dfq USING (tok) CROSS JOIN nn
            ),
            u AS (
                SELECT id, tok,
                       w / sqrt(sum(w * w) OVER (PARTITION BY id)) AS u
                FROM w
            )
            SELECT a.id AS id_a, b.id AS id_b,
                   round(sum(a.u * b.u), 6) AS cosine
            FROM u a JOIN u b ON a.tok = b.tok AND a.id < b.id
            GROUP BY 1, 2
            HAVING round(sum(a.u * b.u), 6) >= {COS_T!r}
        """,
        "triangle_count": """
            -- literal definition: ordered 3-way self-join a<b<c; the
            -- Spark side counts via degree-ordered wedges and must agree
            WITH e AS (
                SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            )
            SELECT count(*)::BIGINT AS n_triangles
            FROM e e1
            JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
            JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
        """,
        "association_lift": f"""
            WITH it AS (
                SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
            ),
            nb AS (SELECT count(DISTINCT b) AS n FROM it),
            m AS (SELECT i, count(*) AS ni FROM it GROUP BY 1),
            p AS (
                SELECT a.i AS item_a, b.i AS item_b, count(*)::BIGINT AS n_ab
                FROM it a JOIN it b ON a.b = b.b AND a.i < b.i
                GROUP BY 1, 2 HAVING count(*) >= {LIFT_MIN_SUPPORT}
            )
            SELECT item_a, item_b, n_ab,
                   round(n_ab::DOUBLE * nb.n::DOUBLE
                         / (ma.ni::DOUBLE * mb.ni::DOUBLE), 6) AS lift
            FROM p
            JOIN m ma ON p.item_a = ma.i
            JOIN m mb ON p.item_b = mb.i
            CROSS JOIN nb
        """,
        "variant_json": """
            SELECT event_type,
                   count(CAST(props->>'$.k' AS INT))::BIGINT AS n_with_k,
                   sum(CAST(props->>'$.k' AS INT))::BIGINT AS sum_k,
                   sum(CASE WHEN CAST(props->>'$.k' AS INT) > 50 THEN 1 ELSE 0 END)::BIGINT AS n_high
            FROM events GROUP BY event_type
        """,
        "lateral_topn": """
            SELECT r.r_name AS region_name, t.nation_name, t.n_customers
            FROM region r,
            LATERAL (
                SELECT n.n_name AS nation_name, count(c.c_custkey) AS n_customers
                FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
                WHERE n.n_regionkey = r.r_regionkey
                GROUP BY n.n_name
                ORDER BY n_customers DESC, nation_name
                LIMIT 2
            ) t
        """,
        "calendar_spine": """
            WITH RECURSIVE bounds AS (
                SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
                FROM events
            ),
            days AS (
                SELECT lo AS d, hi FROM bounds
                UNION ALL
                SELECT d + 1, hi FROM days WHERE d < hi
            ),
            types AS (SELECT DISTINCT event_type FROM events),
            counts AS (
                SELECT CAST(ts AS DATE) AS d, event_type, count(*) AS n
                FROM events WHERE value > 480 GROUP BY 1, 2
            )
            SELECT days.d AS bucket_date, types.event_type,
                   coalesce(counts.n, 0)::BIGINT AS n
            FROM days CROSS JOIN types
            LEFT JOIN counts ON counts.d = days.d AND counts.event_type = types.event_type
        """,
        "blocked_linkage": f"""
            SELECT a.c_nationkey, a.c_mktsegment,
                   a.c_custkey AS id_a, b.c_custkey AS id_b,
                   levenshtein(a.c_name, b.c_name)::INT AS dist
            FROM customer a JOIN customer b
              ON a.c_nationkey = b.c_nationkey
             AND a.c_mktsegment = b.c_mktsegment
             AND a.c_custkey < b.c_custkey
            WHERE abs(length(a.c_name) - length(b.c_name)) <= {LINK_MAX_DIST}
              AND levenshtein(a.c_name, b.c_name) <= {LINK_MAX_DIST}
        """,
        "weighted_sample": f"""
            WITH keyed AS (
                SELECT *,
                       pow(({_DUCK_MD5_BIGINT.format(expr="'ws:' || CAST(doc_id AS VARCHAR)")} + 1)
                           / {float(1 << 60)!r},
                           1.0 / n_chars::DOUBLE) AS k
                FROM documents WHERE n_chars > 0
            )
            SELECT doc_id, text, lang, source, n_chars,
                   round(k, 6) AS sample_key
            FROM keyed ORDER BY k DESC, doc_id LIMIT {WS_N}
        """,
    }
    # epoch consolidation is a PURE LAYOUT rewrite — the served index is
    # bit-identical to ivfsq_incremental's final state built the streamed
    # way, so the consolidation row shares that oracle verbatim: any
    # row the fold dropped, duplicated (replayed folded epoch), or
    # re-encoded differently breaks the same hash (round 12)
    d["ivf_consolidate"] = d["ivfsq_incremental"]
    return d


if __name__ == "__main__":
    # Driver bench entry: `python __spark_entry__.py` == `python bench.py` —
    # prints one JSON timing line to stdout (see bench.py).
    import bench

    raise SystemExit(bench.main())
