"""Vector scalar functions + flagship search plan shape."""

import math

import numpy as np
import pyspark.sql.functions as F
import pytest

from semantic_index_spark.functions import vector as V
from semantic_index_spark.operators import similarity as S
from semantic_index_spark.plans import explain as E


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_dot_matches_numpy(emb):
    rows = emb.orderBy("vec_id").limit(2).collect()
    a, b = np.array(rows[0]["embedding"]), np.array(rows[1]["embedding"])
    got = (
        emb.filter(F.col("vec_id") == rows[0]["vec_id"])
        .select(V.dot_literal("embedding", [float(x) for x in b]).alias("d"))
        .collect()[0]["d"]
    )
    assert math.isclose(got, float(a.astype(np.float64) @ b.astype(np.float64)), rel_tol=1e-9)


def test_cosine_and_norm(emb):
    row = emb.limit(1).select(
        V.l2_norm("embedding").alias("n"), V.cosine("embedding", "embedding").alias("c")
    ).collect()[0]
    a = 1.0
    assert math.isclose(row["c"], a, rel_tol=1e-9)
    assert row["n"] > 0


def test_l2_distance_self_zero(emb):
    row = emb.limit(1).select(V.l2_distance("embedding", "embedding").alias("d")).collect()[0]
    assert row["d"] == 0.0


def test_topk_matches_numpy_bruteforce(emb):
    q = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    got = [r["vec_id"] for r in S.topk(emb, q, k=5).collect()]
    pdf = emb.select("vec_id", "embedding").toPandas()
    mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    scores = np.round(mat @ np.asarray(q, dtype=np.float64), 6)
    order = sorted(zip(-scores, pdf["vec_id"]))[:5]
    assert got == [int(v) for _, v in order]


def test_topk_physical_plan_is_bounded(emb):
    """The scale property: top-k must compile to TakeOrderedAndProject
    (per-partition bounded heap), never a global sort."""
    q = [0.1] * 64
    df = S.topk(emb, q, k=10)
    E.assert_top_k(df)


def test_topk_scan_prunes_columns(emb):
    q = [0.1] * 64
    df = S.topk(emb, q, k=10)
    cols = E.scan_read_schema(df)
    assert "label" not in cols  # only (vec_id, embedding) read


def test_star_join_broadcasts_and_filter_pushes_down(spark, sf_dir):
    """Plan-helper coverage on the headline shapes: the q3 star join must
    broadcast the dim side; the predicate query must push IsNotNull/range
    filters into the parquet scan."""
    from semantic_index_spark.operators import relational as R

    E.assert_broadcast_join(R.q3_shipping_priority(spark, sf_dir))
    E.assert_pushed_filter(R.filter_predicates(spark, sf_dir), "IsNotNull(p_size)")


def test_topk_multi_ranks_per_query(emb):
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    out = S.topk_multi(emb, queries, k=3)
    rows = out.collect()
    assert len(rows) == 9  # 3 queries × top-3
    by_q = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append(r)
    for q_id, rs in by_q.items():
        best = sorted(rs, key=lambda r: r["rank"])[0]
        assert best["vec_id"] == q_id  # self is nearest under dot of unit-ish vecs
    # scale property: partial top-k runs inside MapInArrow (narrow); the
    # only shuffle is the final merge over <= partitions*Q*k rows — never a
    # join or a full N*Q window shuffle.
    plan = E.formatted_plan(out)
    assert "MapInArrow" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_lsh_topk_recall_of_self(emb):
    planes = S.make_planes(4, 64, seed=7)
    q = emb.filter(F.col("vec_id") == 42).collect()[0]["embedding"]
    got = S.lsh_topk(emb, q, planes, k=5).collect()
    assert got, "query's own bucket must be non-empty"
    assert got[0]["vec_id"] == 42  # exact self-match survives bucketing


# --------------------------------------------------- covariance / PCA


def _toy_embeddings(spark, n=400, d=8, seed=7):
    """Deterministic anisotropic cloud: dominant variance along e0+e1."""
    import numpy as np

    rng = np.random.RandomState(seed)
    t = rng.randn(n, 1)
    noise = 0.05 * rng.randn(n, d)
    base = np.zeros((1, d)); base[0, 0] = 1.0; base[0, 1] = 1.0
    x = t @ base + noise + 0.5
    return spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<float>",
    )


def test_covariance_entries_merge_property(spark):
    """Partials are +-mergeable: entries(half A) ∪ entries(half B) summed
    per (i,j) == entries(full) — the incremental-maintenance contract."""
    import pyspark.sql.functions as F

    from semantic_index_spark.operators import linalg as L

    df = _toy_embeddings(spark, n=200, d=4)
    a = L.covariance_entries(df.where("vec_id % 2 = 0"), "embedding", 4)
    b = L.covariance_entries(df.where("vec_id % 2 = 1"), "embedding", 4)
    merged = {
        (r["i"], r["j"]): r["v"]
        for r in a.unionByName(b).groupBy("i", "j").agg(F.sum("v").alias("v")).collect()
    }
    direct = {(r["i"], r["j"]): r["v"] for r in L.covariance_entries(df, "embedding", 4).collect()}
    assert merged.keys() == direct.keys()
    for k in direct:
        assert abs(merged[k] - direct[k]) < 1e-6, k


def test_covariance_dim_mismatch_raises(spark):
    import pytest as _pytest

    from semantic_index_spark.operators import linalg as L

    df = _toy_embeddings(spark, n=50, d=4)
    with _pytest.raises(Exception, match="dim"):
        L.covariance_entries(df, "embedding", 16).collect()


def test_covariance_skips_nulls_and_rejects_ragged(spark):
    import pytest as _pytest

    from semantic_index_spark.operators import linalg as L

    clean = _toy_embeddings(spark, n=100, d=4)
    with_null = clean.unionByName(
        spark.createDataFrame([(999, None)], "vec_id long, embedding array<float>")
    )
    a = sorted(map(tuple, L.covariance_entries(clean, "embedding", 4).collect()))
    b = sorted(map(tuple, L.covariance_entries(with_null, "embedding", 4).collect()))
    assert a == b  # NULL row contributed nothing, no crash
    ragged = clean.unionByName(
        spark.createDataFrame([(998, [1.0, 2.0])], "vec_id long, embedding array<float>")
    )
    with _pytest.raises(Exception, match="expected dim 4"):
        L.covariance_entries(ragged, "embedding", 4).collect()


def test_similarity_join_rejects_unbroadcastable_right_side(spark):
    """The right side is broadcast unconditionally, so the operator must
    fail fast on an oversized panel instead of OOMing every executor."""
    import pytest as _pytest

    from semantic_index_spark.operators import similarity as S

    big = spark.range(50).select(
        F.col("id").alias("q_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("q_embedding"),
    )
    small = spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with _pytest.raises(ValueError, match="too large to broadcast"):
        S.similarity_join(small, big, threshold=0.5, max_broadcast_rows=10)
    # within the cap the join still works end-to-end
    out = S.similarity_join(small, big, threshold=0.5, max_broadcast_rows=100)
    assert out.count() == 200  # identical unit vectors: all pairs pass


def test_lit_double_array_matches_elementwise_lit(spark):
    """lit_double_array builds its constant via ONE parsed SQL expression
    (r13 — the element-wise F.lit shape cost one py4j round-trip per
    element); the values must be bit-identical to the element-wise build
    for flat, nested, empty, and awkward-repr inputs, and non-finite
    values must fall back rather than emit unparseable SQL."""
    import math

    from semantic_index_spark.functions import vector as V

    flat = [0.1, -0.0, 3.0, 1e-07, 5e-324, 123456.789012345, -2.5e300]
    nested = [[0.1, 2.0], [1e-16, -7.25], []]
    df = spark.range(1).select(
        V.lit_double_array(flat).alias("fast_flat"),
        F.array(*[F.lit(float(x)) for x in flat]).cast("array<double>").alias("ref_flat"),
        V.lit_double_array(nested).alias("fast_nested"),
        F.array(
            *[F.array(*[F.lit(float(x)) for x in v]).cast("array<double>") for v in nested]
        ).alias("ref_nested"),
        V.lit_double_array([]).alias("fast_empty"),
    )
    r = df.collect()[0]
    assert r["fast_flat"] == r["ref_flat"]
    assert r["fast_nested"] == r["ref_nested"]
    assert r["fast_empty"] == []
    assert dict(df.dtypes)["fast_empty"] == "array<double>"
    # non-finite: falls back to the element-wise build, same semantics
    nf = spark.range(1).select(
        V.lit_double_array([1.0, float("inf")]).alias("a"),
        V.lit_double_array([[float("nan")], [1.0]]).alias("b"),
    ).collect()[0]
    assert nf["a"][0] == 1.0 and math.isinf(nf["a"][1])
    assert math.isnan(nf["b"][0][0]) and nf["b"][1] == [1.0]
