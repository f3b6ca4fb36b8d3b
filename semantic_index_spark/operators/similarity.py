"""Similarity-search operators over embedding columns.

The reference's only search is brute-force exact KNN with a dot-product
score (`SemanticDatabase.cs:268-308`). :func:`topk` reproduces exactly that
(and is what :meth:`SemanticIndex.search_df` uses). The rest is
[absent in reference — north-star extension]: batched multi-query search,
similarity join, and the LSH-bucketed approximate path that survives 100 TB.

Physical-plan notes:
  * ``topk`` compiles to pruned-scan → project → TakeOrderedAndProject:
    per-partition bounded top-k, O(N·d + N log k), zero shuffles.
  * ``topk_multi`` broadcasts the query set (small side) and scores each
    Arrow batch with one matmul in a ``mapInArrow`` kernel — ONE pass over
    the big table for Q queries instead of Q passes. NumPy selection
    (``np.partition``, then ``np.lexsort`` on (query, score DESC, id ASC)
    over the k-th score's ties) keeps at most Q·k rows per partition, so
    only those shuffle into the per-query window rank.
  * ``lsh_topk`` probes only matching hyperplane buckets: candidate set
    shrinks ~2^bits-fold; the equi-join on the signature is
    hash-partitioned, so no cross product ever materializes.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import pandas as pd  # module-level so applyInPandas can resolve postponed hints
import pyspark.sql.functions as F
from semantic_index_spark.session import collect_bounded, pin
from pyspark.sql import DataFrame, Window

from semantic_index_spark.functions import vector as V


def _round_half_up6(a):
    """Match Spark F.round / DuckDB round (HALF_UP, away from zero) in
    numpy paths — np.round is half-to-even and diverges from the oracle on
    exact .xxxxxx5 boundaries."""
    import numpy as np

    return np.sign(a) * np.floor(np.abs(a) * 1e6 + 0.5) / 1e6


def topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "dot",
) -> DataFrame:
    """Exact brute-force top-k (`SemanticDatabase.cs:268-308`): raw dot
    score (`:279`), descending (`:307`), default k=10 (`:268`);
    deterministic (score DESC, id) tie-break replaces the reference's
    +1e-6 perturbation (SURVEY.md §2.C.3). Columns: (id, score)."""
    score = (
        V.dot_literal(F.col(emb_col), query)
        if metric == "dot"
        else V.cosine(F.col(emb_col), V.lit_double_array(list(query)))
    )
    return (
        df.select(F.col(id_col), F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def topk_multi(
    big: DataFrame,
    queries: DataFrame,
    k: int = 10,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    q_emb_col: str = "q_embedding",
    q_id_col: str = "q_id",
    max_queries: int = 100_000,
) -> DataFrame:
    """Top-k neighbors for EACH query row, in two phases:

    1. **Partial top-k per partition** (narrow, no shuffle): the query
       matrix (Q small by contract) ships via ``SparkContext.broadcast``
       — serialized ONCE per executor, not once per task closure — and is
       scored against each Arrow batch with one BLAS matmul inside
       ``mapInArrow``. ``np.partition`` finds each query's k-th best
       score in the batch; every row scoring at least that (ties with the
       k-th included) joins the partition's running candidates, which
       ``np.lexsort`` orders and cuts back to k per query. The work is
       linear in the batch, and each partition emits at most Q·k rows.
    2. **Merge**: a window over the ≤ partitions·Q·k survivors ranks per
       query. Only this tiny set ever shuffles — never the N·Q scored rows
       (a ``Window.partitionBy(q_id)`` over the full scored table would
       funnel everything to Q reducer keys: massive skew at large N).

    Both phases order by (round(score, 6) DESC, id ASC) so the pruning
    total-order equals the final ranking total-order — local pruning can
    never drop a row the global rank would have kept. Keeping the k-th
    score's ties until the lexsort is what makes that hold when equal
    scores straddle the cut.
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DoubleType, StructField, StructType

    q_rows = collect_bounded(
        queries.select(q_id_col, q_emb_col),
        max_queries,
        "multi_topk query set",
    )

    out_schema = StructType(
        [
            StructField(q_id_col, queries.schema[q_id_col].dataType),
            StructField(id_col, big.schema[id_col].dataType),
            StructField("score", DoubleType()),
        ]
    )
    if not q_rows:  # empty query set → empty result, same schema as usual
        spark = big.sparkSession
        return spark.createDataFrame([], out_schema).withColumn(
            "rank", F.lit(1).cast("int")
        ).limit(0)
    q_ids = np.array([r[0] for r in q_rows], dtype=object)
    q_mat = np.asarray([[float(x) for x in r[1]] for r in q_rows], dtype=np.float64)
    arrow_schema = to_arrow_schema(out_schema)
    # broadcast lifetime rides the returned plan: the closure below holds the
    # only reference, so once the caller releases the DataFrame, Python GC
    # drops the Broadcast and ContextCleaner evicts the executor blocks —
    # long-lived serving processes should reuse one topk_multi result per
    # query set rather than re-calling per request.
    bc = big.sparkSession.sparkContext.broadcast((q_ids, q_mat))

    def _first_k(q, ids, score):
        """The first k rows of each query under (score DESC, id ASC)."""
        order = np.lexsort((ids, -score, q))
        q, ids, score = q[order], ids[order], score[order]
        keep = np.arange(len(q)) - np.searchsorted(q, q) < k
        return q[keep], ids[keep], score[keep]

    def _local_topk(batches):
        b_ids, b_mat = bc.value
        cand_q, cand_ids, cand_score = np.empty(0, np.int64), None, np.empty(0)
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            flat = rb.column(emb_col).flatten().to_numpy(zero_copy_only=False)
            emb = flat.reshape(n, -1).astype(np.float64)
            ids = rb.column(id_col).to_numpy(zero_copy_only=False)
            scores = _round_half_up6(emb @ b_mat.T)  # (n, Q)
            if n > k:
                kth = -np.partition(-scores, k - 1, axis=0)[k - 1]  # (Q,)
                # a NaN k-th score (under k finite scores) keeps every row
                rows, cols = np.nonzero((scores >= kth) | np.isnan(kth))
            else:
                rows, cols = np.indices(scores.shape).reshape(2, -1)
            new_ids = ids[rows]
            cand_q, cand_ids, cand_score = _first_k(
                np.concatenate([cand_q, cols]),
                new_ids if cand_ids is None else np.concatenate([cand_ids, new_ids]),
                np.concatenate([cand_score, scores[rows, cols]]),
            )
        if cand_ids is not None:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(b_ids[cand_q], arrow_schema.field(0).type),
                    pa.array(cand_ids, arrow_schema.field(1).type),
                    pa.array(cand_score, pa.float64()),
                ],
                schema=arrow_schema,
            )

    from semantic_index_spark.operators.dedup import ensure_parallelism

    partial = ensure_parallelism(big.select(id_col, emb_col)).mapInArrow(
        _local_topk, schema=out_schema
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id_col, id_col, "score", "rank")
    )


def similarity_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    l_emb: str = "embedding",
    r_emb: str = "q_embedding",
    l_id: str = "vec_id",
    r_id: str = "q_id",
    max_broadcast_rows: int = 1_000_000,
) -> DataFrame:
    """All pairs (l, r) with cosine ≥ threshold. Broadcast the smaller right
    side; the filter prunes pairs before any shuffle, and each side's L2
    norm is computed once per ROW (not per pair — at |L|·|R| pairs the
    recompute would dominate).

    The right side MUST be broadcast-sized — this operator's contract is
    corpus × query-panel, and it fails fast (one cheap ``limit(n+1)``
    probe, which stops scanning at the cap) rather than let a caller
    broadcast a 10 TB side by accident and OOM every executor. For two
    HUGE sides, use the hyperplane-bucketed path instead
    (``dedup.embedding_neardup_pairs(planes=...)`` / :func:`lsh_topk`),
    which turns the cross product into a bucket equi-join."""
    probe = right.limit(max_broadcast_rows + 1).count()
    if probe > max_broadcast_rows:
        raise ValueError(
            f"similarity_join: right side exceeds {max_broadcast_rows} rows — "
            "too large to broadcast. Use dedup.embedding_neardup_pairs("
            "planes=...) (hyperplane-bucketed equi-join) for two large sides, "
            "or raise max_broadcast_rows explicitly if the side genuinely fits "
            "in executor memory."
        )
    lhs = left.select(F.col(l_id), F.col(l_emb)).withColumn("_ln", V.l2_norm(l_emb))
    rhs = right.select(F.col(r_id), F.col(r_emb)).withColumn("_rn", V.l2_norm(r_emb))
    return (
        lhs.crossJoin(F.broadcast(rhs))
        .withColumn(
            "cos",
            F.round(V.dot(F.col(l_emb), F.col(r_emb)) / (F.col("_ln") * F.col("_rn")), 6),
        )
        .filter(F.col("cos") >= threshold)
        .select(F.col(l_id), F.col(r_id), F.col("cos"))
    )


def lsh_topk(
    df: DataFrame,
    query: Sequence[float],
    planes: Sequence[Sequence[float]],
    k: int = 10,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    probe_hamming: int = 0,
) -> DataFrame:
    """Approximate top-k: score only rows whose random-hyperplane signature
    falls in the query's candidate buckets, then exact dot-product rank
    inside the candidates.

    ``probe_hamming`` enables MULTI-PROBE LSH (Lv et al., VLDB'07): besides
    the query's own bucket, probe every bucket whose signature is within
    Hamming distance t — a near neighbor that lands on the wrong side of a
    few hyperplanes is recovered without extra hash tables. Probe-set size
    is sum_{i<=t} C(bits, i), computed driver-side (O(bits^t) ints); the
    scan prunes to ~probes/2^bits of the corpus. t trades recall against
    scan fraction exactly like IVF's nprobe — the scale path when brute
    force over 100 TB per query is too slow. Deterministic given `planes`."""
    import itertools

    import numpy as np

    qv = np.asarray(query, dtype=np.float64)
    qsig = 0
    for i, p in enumerate(planes):
        if float(np.dot(qv, np.asarray(p, dtype=np.float64))) > 0:
            qsig += 1 << i
    probes = {int(qsig)}
    for t in range(1, probe_hamming + 1):
        for flips in itertools.combinations(range(len(planes)), t):
            s = qsig
            for b in flips:
                s ^= 1 << b
            probes.add(int(s))
    sig = df.withColumn("bucket", V.hyperplane_signature(emb_col, planes))
    cand = (
        sig.filter(F.col("bucket") == F.lit(int(qsig)).cast("bigint"))
        if len(probes) == 1
        else sig.filter(F.col("bucket").isin(sorted(probes)))
    )
    return topk(cand, query, k, emb_col, id_col)


def ann_recall(
    exact: DataFrame,
    approx: DataFrame,
    id_col: str = "vec_id",
    by: str | None = None,
) -> DataFrame:
    """Recall@k of an approximate retrieval result against the exact one:
    |approx ∩ exact| / |exact|, per query when ``by`` names a query-id
    column both inputs carry, else one global row. The evaluation harness
    for the ANN family (lsh_topk / ivf_topk vs brute-force topk) — run it
    on a sampled query set after any re-tune of planes/centroids/nprobe.

    Shape: a left semi equi-join on (query, id) — both inputs are k·|Q|
    rows, so this is metric-sized work, never corpus-sized."""
    keys = [by, id_col] if by else [id_col]
    hits = exact.join(approx.select(*keys), keys, "left_semi")
    group = [by] if by else []
    n_exact = exact.groupBy(*group).agg(F.count("*").alias("n_exact"))
    n_hit = hits.groupBy(*group).agg(F.count("*").alias("n_hit"))
    joined = (
        n_exact.join(n_hit, group, "left") if group else n_exact.crossJoin(n_hit)
    )
    return joined.select(
        *group,
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint").alias("n_hit"),
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.round(
            F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact").cast("double"), 6
        ).alias("recall"),
    )


def label_centroids(
    df: DataFrame, label_col: str = "label", emb_col: str = "embedding"
) -> DataFrame:
    """Per-group embedding centroid via ``applyInPandas`` (the grouped-map
    UDAF surface): one BLAS column-mean per group, Arrow-batched. Groups
    hash-partition across executors; per-group memory is one (n_group, d)
    matrix — repartition upstream if a single label dominates. Returns
    (label, centroid: array<double> rounded 6, n)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField(label_col, df.schema[label_col].dataType),
            StructField("centroid", ArrayType(DoubleType())),
            StructField("n", LongType()),
        ]
    )

    def _mean(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.vstack(pdf[emb_col].to_numpy()).astype(np.float64)
        return pd.DataFrame(
            {
                label_col: [pdf[label_col].iloc[0]],
                "centroid": [[float(x) for x in _round_half_up6(mat.mean(axis=0))]],
                "n": [len(pdf)],
            }
        )

    return df.select(label_col, emb_col).groupBy(label_col).applyInPandas(_mean, out_schema)


def make_centroids(k: int, dim: int, seed: int = 11) -> list[list[float]]:
    """Deterministic unit-norm centroids shared by Spark, the DuckDB
    oracle, and driver-side probe selection. Production would train these
    with k-means over a sample; the probe/assign machinery is identical."""
    import numpy as np

    rng = np.random.RandomState(seed)
    c = rng.standard_normal((k, dim))
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    return [[float(x) for x in row] for row in c]


def _np_column(fn, dtype, emb_col: str):
    """``fn`` over each Arrow batch's (n, d) float64 embedding matrix, as
    one column of Spark type ``dtype`` (an Arrow UDF): how the standalone
    operators run the ``indexed_np`` encoders every table shard runs.
    The matrix is ``indexed_np._emb_matrix``'s (a flattened Arrow list,
    so float32 widens exactly as ``cast("array<double>")`` does); ``fn``
    returns one value per row (1-D) or one fixed-width array per row
    (2-D). An empty batch returns an empty column without calling
    ``fn``."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.pandas.types import to_arrow_type

    from semantic_index_spark.sources.indexed_np import _emb_matrix

    out_type = to_arrow_type(dtype)

    @arrow_udf(dtype)  # no type hints: a scalar Arrow UDF by default
    def _encode(emb):
        if len(emb) == 0:
            return pa.array([], out_type)
        out = fn(_emb_matrix(emb))
        if out.ndim == 1:
            return pa.array(out, out_type)
        n, w = out.shape
        return pa.ListArray.from_arrays(
            pa.array(np.arange(n + 1, dtype=np.int32) * w),
            pa.array(out.reshape(-1), out_type.value_type),
        )

    return _encode(F.col(emb_col))


def ivf_assign(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    emb_col: str = "embedding",
) -> DataFrame:
    """IVF cell assignment: each row gets the index of its max-dot centroid
    (``_cell``). At ingest time this is the partition/cluster key the
    index is written with, so queries prune to probed cells at the
    parquet-partition level.

    Two physical strategies, picked by k:

    * k ≤ 16 — one JVM dot fold per centroid inside whole-stage codegen
      (zero Python): no Arrow boundary, composes with partition pruning
      (the serving index's nprobe-style k≈8-16).
    * k > 16 — ``indexed_np.ivf_cells_np``'s float64 ``matmul + argmax``
      per Arrow batch, the encoder table shards use. The expression tree
      grows with k (its codegen COMPILE time, ~2.5s at k=32, dominates
      small jobs), while a (batch, d) @ (d, k) matmul is O(1) in
      planning cost and the only strategy that reaches SemDeDup-scale
      k≈50k. ``np.argmax`` takes the first max index — the same
      tie-break as ``array_position``.
    """
    if len(centroids) <= 16:
        dots = F.array(*[V.dot_literal(F.col(emb_col), c) for c in centroids])
        return df.withColumn(
            "_cell", (F.array_position(dots, F.array_max(dots)) - 1).cast("int")
        )
    from pyspark.sql.types import IntegerType

    from semantic_index_spark.sources.indexed_np import ivf_cells_np

    return df.withColumn(
        "_cell",
        _np_column(lambda m: ivf_cells_np(m, centroids), IntegerType(), emb_col),
    )


def ivf_topk(
    df: DataFrame,
    query: Sequence[float],
    centroids: Sequence[Sequence[float]],
    k: int = 10,
    nprobe: int = 2,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-style approximate top-k: rank ONLY rows assigned to the query's
    ``nprobe`` nearest centroids. Probe selection is a driver-side O(K·d)
    computation; the candidate scan prunes to ~nprobe/K of the table and
    the exact dot-product rank inside candidates compiles to
    TakeOrderedAndProject. Recall tunes with nprobe — the standard
    IVF-flat trade, expressed as DataFrame ops."""
    probe = _probe_cells(query, centroids, nprobe)
    cand = ivf_assign(df, centroids, emb_col).filter(F.col("_cell").isin(probe))
    return topk(cand, query, k, emb_col, id_col)


def rerank_exact(
    df: DataFrame,
    candidates: DataFrame,
    query: Sequence[float],
    k: int = 10,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Second stage of two-stage retrieval: EXACT float re-scoring of a
    cheap first-stage candidate set (quantized / LSH / IVF top-k'). The
    semi-join prunes the corpus to the candidate ids BEFORE the full-
    precision dot product runs, so the expensive scorer touches k' rows,
    never N — the standard retrieve-then-rerank serving shape. The
    candidate side is tiny (k' rows) and broadcasts; ranking compiles to
    TakeOrderedAndProject. Deterministic: (score DESC, id ASC)."""
    cand = df.join(F.broadcast(candidates.select(id_col)), id_col, "left_semi")
    return topk(cand, query, k, emb_col, id_col)


def _probe_cells(
    query: Sequence[float], centroids: Sequence[Sequence[float]], nprobe: int
) -> list[int]:
    """Driver-side O(K·d) probe selection: indices of the nprobe max-dot
    centroids, deterministically tie-broken by index."""
    import numpy as np

    qv = np.asarray(query, dtype=np.float64)
    dots = [float(qv @ np.asarray(c, dtype=np.float64)) for c in centroids]
    return [int(i) for i in sorted(range(len(centroids)), key=lambda i: (-dots[i], i))[:nprobe]]


def write_ivf_index(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    path: str,
    emb_col: str = "embedding",
    files_per_cell: int = 1,
) -> None:
    """Materialize an IVF index as a cell-partitioned parquet layout:
    ``path/_cell=<i>/...``. This turns every probe query into a
    PLANNING-time directory prune (``PartitionFilters: [_cell IN (...)]``)
    — at 100 TB the non-probed ~(K-nprobe)/K of the corpus is never
    listed, opened, or scanned, which is the difference between an ANN
    query costing O(corpus/K·nprobe) IO and O(corpus). The in-partition
    ``repartition`` keys on (_cell, salt): the salt — hash(embedding) mod
    files_per_cell — genuinely SPLITS a cell across files_per_cell tasks
    (keying on _cell alone could never split a cell, since every row of a
    cell hashes to one partition); raise it when hot cells outgrow one
    task's write throughput. Layout mutators (base writes and appends)
    serialize on the layout's sibling commit lock (``locking.
    index_lock``): two concurrent writers' jobs would otherwise race
    each other's ``_temporary`` staging inside the target directory."""
    _write_ivf_cells(df, centroids, path, emb_col, files_per_cell, "overwrite")


def append_ivf_index(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    path: str,
    emb_col: str = "embedding",
    files_per_cell: int = 1,
) -> None:
    """Incremental maintenance of a :func:`write_ivf_index` layout: assign
    the NEW batch to cells and append its files under the existing
    ``_cell=<i>/`` directories — the index absorbs an ingest batch without
    rewriting the corpus (append-mode parquet adds files, never touches
    existing ones, so concurrent probes keep reading a consistent set).
    Probe results over (base ∪ batch) equal a from-scratch rebuild because
    cell assignment is a pure function of (embedding, centroids) —
    pytest-asserted. Run :func:`semantic_index_spark.sources.io.
    compact_parquet` per cell on a cadence when many small batches
    accumulate; re-TRAINING centroids is the one operation that still
    requires a rebuild (assignment function changes). Concurrent
    appenders (and a concurrent base rebuild) serialize on the layout
    commit lock — two append jobs sharing the target's ``_temporary``
    staging directory could otherwise clobber each other's in-flight
    files (round 11; committed files were always safe, the race was in
    the job-commit protocol)."""
    _write_ivf_cells(df, centroids, path, emb_col, files_per_cell, "append")


def _write_ivf_cells(df, centroids, path, emb_col, files_per_cell, mode) -> None:
    """The body of :func:`write_ivf_index` (``mode="overwrite"``) and
    :func:`append_ivf_index` (``mode="append"``)."""
    from semantic_index_spark.locking import index_lock

    assigned = ivf_assign(df, centroids, emb_col)
    salt = F.pmod(F.abs(F.hash(F.col(emb_col))), F.lit(max(1, files_per_cell)))
    with index_lock(path):
        (
            assigned.repartition(
                max(1, files_per_cell) * max(1, len(centroids)), F.col("_cell"), salt
            )
            .write.mode(mode)
            .partitionBy("_cell")
            .parquet(path)
        )


def ivf_topk_indexed(
    spark,
    path: str,
    query: Sequence[float],
    centroids: Sequence[Sequence[float]],
    k: int = 10,
    nprobe: int = 2,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ivf_topk over a ``write_ivf_index`` layout: the cell filter lands on
    the PARTITION column, so pruning happens at planning time (directory
    listing), not row filtering — no signature recompute, no full scan.
    Same results as ``ivf_topk`` on the raw table with the same centroids
    (asserted in tests); this is the serving path, ivf_topk the ad-hoc one."""
    probe = _probe_cells(query, centroids, nprobe)
    cand = spark.read.parquet(path).filter(F.col("_cell").isin(probe))
    return topk(cand, query, k, emb_col, id_col)


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 5,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Distributed Lloyd's k-means over an embedding column — the iterative
    algorithm shape: per round, (1) assign each row to its nearest centroid
    (pure JVM argmin over L2 distances to the k broadcast-literal
    centroids) and (2) recompute centroids as per-cell means (one
    applyInPandas column-mean per cell). Centroids live on the driver
    between rounds (k·d floats — trivially broadcastable); the data is
    never collected. Deterministic: init = the k lowest-id vectors.

    Returns (cell, centroid: array<double>, n) for the final round.
    HASH-oracled despite being iterative: the fixed iteration count
    unrolls to assign/update CTE rounds, and because each round's
    centroids are rounded to 1e-6 on BOTH engines, every round re-enters
    with identical decimal centroids and the unroll converges bitwise.
    Invariants (monotone inertia, determinism) are pytest-asserted.
    """
    import numpy as np

    init = collect_bounded(
        df.select(id_col, emb_col).orderBy(id_col).limit(k),
        k,
        "kmeans_fit init centroids",
    )
    centroids = [[float(x) for x in r[emb_col]] for r in init]
    if not centroids:
        raise ValueError("kmeans_fit: input DataFrame is empty")
    k = min(k, len(centroids))  # fewer rows than k → that many clusters

    def _assign(frame: DataFrame) -> DataFrame:
        dists = F.array(
            *[V.l2_distance(F.col(emb_col), F.lit(c).cast("array<double>")) for c in centroids]
        )
        return frame.withColumn(
            "cell", (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )

    base = df.select(id_col, emb_col)
    for _ in range(iters):
        assigned = _assign(base)
        rows = collect_bounded(
            label_centroids(assigned, label_col="cell", emb_col=emb_col),
            k,
            "kmeans_fit per-cell centroids",
        )
        new = dict((r["cell"], r["centroid"]) for r in rows)
        centroids = [
            [float(x) for x in new.get(i, centroids[i])] for i in range(k)
        ]

    final = _assign(base)
    out = label_centroids(final, label_col="cell", emb_col=emb_col)
    return out.orderBy("cell")


def kmeans_inertia(df: DataFrame, centroids: list[list[float]], emb_col: str = "embedding") -> float:
    """Σ min-distance² — the k-means objective, for convergence tests."""
    dists = F.array(
        *[V.l2_distance(F.col(emb_col), F.lit(c).cast("array<double>")) for c in centroids]
    )
    return collect_bounded(
        df.select(F.sum(F.pow(F.array_min(dists), 2)).alias("inertia")),
        1,
        "kmeans_inertia scalar",
    )[0]["inertia"]


def make_planes(num_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes shared by Spark, the DuckDB oracle,
    and the driver-side query-signature computation."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return [[float(x) for x in rng.standard_normal(dim)] for _ in range(num_planes)]


def greedy_kcenter(
    df: DataFrame,
    k: int = 8,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Greedy k-center (farthest-point) coreset selection — the classic
    diversity-maximizing subset: start from the lowest-id vector, then k−1
    times add the point FARTHEST from its nearest already-chosen center
    (2-approximation of the optimal k-center cover, Gonzalez 1985). The
    training-data use: pick a small, maximally-spread exemplar set from an
    embedding shard — dedup's complement (dedup removes redundancy,
    k-center SELECTS for coverage).

    Same execution shape as :func:`kmeans_fit`: k driver rounds, each a
    distributed JVM argmax of the running min-distance column against ONE
    new broadcast-literal center (the min-distance folds incrementally —
    round r costs one d-dim distance per row, not r of them). Only k·d
    floats ever reach the driver; ties break on the id so the selection
    is deterministic. Iterative → rows-only driver check; the numpy
    reference parity is pytest-asserted.

    Returns (pick_order, id, coverage_radius) — coverage_radius of pick r
    = the max distance that triggered it (how uncovered the space still
    was; radius 0 means the data is already covered by fewer centers).
    """
    first = collect_bounded(
        df.select(id_col, emb_col).orderBy(id_col).limit(1), 1, "greedy_kcenter seed"
    )
    if not first:
        raise ValueError("greedy_kcenter: input DataFrame is empty")
    id_type = df.schema[id_col].dataType.simpleString()
    picks = [(0, first[0][id_col], 0.0)]
    center = [float(x) for x in first[0][emb_col]]
    # running min-distance to the chosen set, folded one center per round
    cur = df.select(
        F.col(id_col),
        F.col(emb_col),
        V.l2_distance(F.col(emb_col), F.lit(center).cast("array<double>")).alias("_d"),
    ).transform(pin, "greedy_kcenter: cur", "eager")
    for r in range(1, k):
        far = collect_bounded(
            cur.orderBy(F.desc("_d"), F.col(id_col)).limit(1),
            1,
            "greedy_kcenter farthest point",
        )
        if not far or far[0]["_d"] <= 0.0:
            break  # every remaining point coincides with a center
        row = far[0]
        picks.append((r, row[id_col], float(row["_d"])))
        c = [float(x) for x in row[emb_col]]
        cur = cur.select(
            F.col(id_col),
            F.col(emb_col),
            F.least(
                F.col("_d"),
                V.l2_distance(F.col(emb_col), F.lit(c).cast("array<double>")),
            ).alias("_d"),
        ).transform(pin, "greedy_kcenter: cur", "eager")
    spark = df.sparkSession
    # HALF_UP rounding (not Python's banker's round) so the radius matches
    # the DuckDB oracle's round() exactly; id type derived from the input
    # schema, not hardcoded bigint.
    return spark.createDataFrame(
        [(o, i, float(_round_half_up6(d))) for o, i, d in picks],
        f"pick_order int, {id_col} {id_type}, coverage_radius double",
    )


def mmr_rerank(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    pool: int = 100,
    lam: float = 0.7,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein 1998) —
    the serving-side diversity pass: from the ``pool`` most relevant
    candidates, greedily pick k maximizing
    ``λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)`` so near-duplicate hits
    don't crowd the result page. :func:`greedy_kcenter` is the corpus-
    side sibling (coverage with no query); this is query-conditioned.

    Relevance and the diversity penalty use the SAME metric (cosine) —
    mixing raw dot relevance with cosine diversity puts the two terms on
    different scales and λ stops meaning anything.

    Execution contract: candidate generation is the DISTRIBUTED part
    (bounded top-``pool`` by cosine — TakeOrderedAndProject, swap in
    the LSH/IVF probes for billion-row corpora); the greedy selection
    then runs driver-side on the collected pool·d floats — the standard
    serving shape, explicitly bounded by ``pool``, never corpus-sized.
    Ties break on id. Returns (rank, id, relevance, mmr_score).
    """
    import numpy as np

    cand = collect_bounded(
        df.select(
            F.col(id_col),
            F.col(emb_col),
            V.cosine(
                F.col(emb_col),
                V.lit_double_array(list(query_vec)),
            ).alias("_rel"),
        )
        .orderBy(F.desc("_rel"), F.col(id_col))
        .limit(pool),
        pool,
        "mmr_rerank candidate pool",
    )
    id_type = df.schema[id_col].dataType.simpleString()
    if not cand:
        return df.sparkSession.createDataFrame(
            [], f"rank int, {id_col} {id_type}, relevance double, mmr_score double"
        )
    ids = [r[id_col] for r in cand]
    X = np.array([r[emb_col] for r in cand], dtype=np.float64)
    rel = np.array([r["_rel"] for r in cand], dtype=np.float64)
    norms = np.linalg.norm(X, axis=1)
    norms[norms == 0] = 1.0
    Xn = X / norms[:, None]
    chosen: list[int] = []
    max_sim = np.full(len(ids), -np.inf)
    out = []
    for rank in range(min(k, len(ids))):
        if chosen:
            score = lam * rel - (1.0 - lam) * max_sim
        else:
            score = lam * rel
        score[chosen] = -np.inf
        # argmax with min-id tiebreak: ids ascend within equal relevance
        # because the candidate sort already tiebroke on id
        j = int(np.argmax(score))
        # HALF_UP, matching the DuckDB oracle's round() (Python round is
        # half-to-even and would diverge on exact boundaries)
        out.append(
            (
                rank,
                ids[j],
                float(_round_half_up6(float(rel[j]))),
                float(_round_half_up6(float(score[j]))),
            )
        )
        chosen.append(j)
        max_sim = np.maximum(max_sim, Xn @ Xn[j])
    return df.sparkSession.createDataFrame(
        out, f"rank int, {id_col} {id_type}, relevance double, mmr_score double"
    )


def rrf_fuse(
    rankings: Sequence[DataFrame],
    id_col: str = "vec_id",
    rank_col: str = "rank",
    k_rrf: int = 60,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR 2009):
    combine heterogeneous retrieval rankings — lexical BM25, dense ANN,
    recency — by summing 1/(k + rank) per candidate, the standard hybrid-
    search merge (k=60 from the paper damps the head). Rank-based, so no
    cross-scorer score calibration is needed — the reason RRF beats raw
    score interpolation in practice.

    Each input carries (id, rank) with rank 1-based; inputs are top-k
    lists (metric-sized, NOT corpus-sized — generate them with the
    bounded retrievals: topk / lsh_topk / ivf_topk / bm25_topk), so the
    union + groupBy here shuffles at most Σk rows. Deterministic output
    order (score DESC, id). Returns (id, rrf_score rounded 6, n_lists).
    """
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    contribs = [
        r.select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(float(k_rrf)) + F.col(rank_col).cast("double"))).alias(
                "_c"
            ),
        )
        for r in rankings
    ]
    u = contribs[0]
    for c in contribs[1:]:
        u = u.unionByName(c)
    return (
        u.groupBy(id_col)
        .agg(
            F.round(F.sum("_c"), 6).alias("rrf_score"),
            F.count("*").cast("bigint").alias("n_lists"),
        )
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
    )


def pq_train_encode(
    df: DataFrame,
    m_sub: int = 4,
    k: int = 16,
    iters: int = 2,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Product quantization (Jégou et al. 2011) — train per-subspace
    codebooks and encode every vector, the compression behind
    billion-scale ANN (FAISS IVF-PQ): split each d-dim vector into
    ``m_sub`` subvectors, run Lloyd's k-means independently per
    subspace, and store each vector as m_sub small codes (here 4×16
    codes = 16 bytes vs 256 bytes of floats — a 16× memory cut).
    [absent in reference — north-star extension]

    Same determinism contract as :func:`kmeans_fit`: init = the k
    lowest-id vectors' slices, fixed ``iters``, per-round centroid means
    ROUNDED to 1e-6 on both engines so the oracle's unrolled CTE rounds
    re-enter bitwise; assignment tie-breaks to the smallest code.

    Scale shape: each round is one narrow pass that encodes every row
    with ``indexed_np.pq_codes_np`` per Arrow batch, then ONE shuffle for
    the (sub, code, dim)-keyed mean; only the m_sub·k·subdim codebook
    floats ever reach the driver. Returns
    ``(codes_df (id, sub, code), codebooks[sub][code] -> list[float])``.
    """
    codebooks = pq_train(
        df, m_sub=m_sub, k=k, iters=iters, emb_col=emb_col, id_col=id_col
    )
    # final assignment = the standalone frozen-codebook encoder, so the
    # training path and the incremental-maintenance path (pq_encode on new
    # batches) can never diverge in formula or tie-break
    codes = pq_encode(df, codebooks, emb_col=emb_col, id_col=id_col)
    return codes, codebooks


def pq_train(
    df: DataFrame,
    m_sub: int = 4,
    k: int = 16,
    iters: int = 2,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> list:
    """The training half of :func:`pq_train_encode`: its per-subspace
    codebooks (``codebooks[sub][code] -> list[float]``) without building
    the codes frame — for callers that encode elsewhere (the co-committed
    IVF-PQ index encodes per bucket in ``indexed_np``)."""
    init = collect_bounded(
        df.select(id_col, emb_col).orderBy(id_col).limit(k), k, "pq init"
    )
    if not init:
        raise ValueError("pq_train: input DataFrame is empty")
    dim = len(init[0][emb_col])
    if dim % m_sub != 0:
        raise ValueError(f"pq_train: dim {dim} not divisible by {m_sub}")
    subdim = dim // m_sub
    codebooks = [
        [
            [float(x) for x in r[emb_col][s * subdim : (s + 1) * subdim]]
            for r in init
        ]
        for s in range(m_sub)
    ]
    k = min(k, len(init))

    for _ in range(iters):
        # one narrow pass per round: the frozen-codebook encoder's codes
        # (pq_codes_np, computed once per row in their own projection),
        # then each subspace's (code, subvector) pair for the mean
        coded = df.select(
            _pq_codes(codebooks, emb_col).alias("_codes"), F.col(emb_col)
        )
        parts = F.array(
            *[
                F.struct(
                    F.col("_codes")[s].alias("code"),
                    F.slice(F.col(emb_col), s * subdim + 1, subdim)
                    .cast("array<double>")
                    .alias("sv"),
                )
                for s in range(m_sub)
            ]
        )
        means = (
            coded.select(F.posexplode(parts).alias("sub", "p"))
            .select("sub", F.col("p.code").alias("code"), F.posexplode("p.sv").alias("dim0", "v"))
            .groupBy("sub", "code", "dim0")
            .agg(F.round(F.avg("v"), 6).alias("m"))
        )
        got = collect_bounded(means, m_sub * k * subdim, "pq codebook update")
        upd = {}
        for r in got:
            upd.setdefault((r["sub"], r["code"]), {})[r["dim0"]] = r["m"]
        for (s, c), dims in upd.items():
            codebooks[s][c] = [
                dims.get(i, codebooks[s][c][i]) for i in range(subdim)
            ]
    return codebooks


def _pq_codes(codebooks, emb_col: str):
    """The m_sub PQ codes of each row as one ``array<int>`` column —
    ``indexed_np.pq_codes_np`` per Arrow batch."""
    from pyspark.sql.types import ArrayType, IntegerType

    from semantic_index_spark.sources.indexed_np import pq_codes_np

    return _np_column(
        lambda m: pq_codes_np(m, codebooks), ArrayType(IntegerType()), emb_col
    )


def pq_encode(
    df: DataFrame,
    codebooks,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode vectors against FROZEN per-subspace codebooks — the
    incremental-maintenance half of PQ: training is a rare offline event,
    but every ingest batch must encode against the fixed codebooks (a pure
    function of the embedding, so index state after N appends equals a
    from-scratch encode of the union). Same argmin formula and
    smallest-code tie-break as :func:`pq_train_encode`'s training loop —
    that function's final assignment IS this function. Returns
    (id, sub, code) long-form code rows.

    Physical shape: ONE narrow projection — ``indexed_np.pq_codes_np``
    (the encoder every table shard runs) per Arrow batch, and
    ``posexplode`` emits the long form."""
    return df.select(
        F.col(id_col),
        F.posexplode(_pq_codes(codebooks, emb_col)).alias("sub", "code"),
    )


def pq_topk(
    codes: DataFrame,
    codebooks,
    query_vec,
    k_results: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query builds an
    (m_sub·k)-entry lookup table of squared subspace distances ONCE
    (driver-side floats fixed-pointed to 1e-6 micros so the per-vector
    sum is an exact BIGINT — no float-order dependence), then scoring is
    a broadcast join on (sub, code) + an integer sum per id + a bounded
    top-k. The corpus floats are never touched at query time — the whole
    point of PQ. Returns (rank, id, approx_dist2)."""
    m_sub = len(codebooks)
    subdim = len(codebooks[0][0])
    q = [float(x) for x in query_vec]
    rows = []
    for s in range(m_sub):
        qs = q[s * subdim : (s + 1) * subdim]
        for c, cent in enumerate(codebooks[s]):
            d = sum((a - b) * (a - b) for a, b in zip(qs, cent))
            rows.append((s, c, int(math.floor(d * 1e6 + 0.5))))
    spark = codes.sparkSession
    lut = spark.createDataFrame(rows, "sub int, code int, dmicro bigint")
    scored = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .groupBy(id_col)
        .agg(F.sum("dmicro").cast("bigint").alias("_dm"))
        .orderBy(F.asc("_dm"), F.asc(id_col))
        .limit(k_results)
    )
    w = Window.orderBy(F.asc("_dm"), F.asc(id_col))
    return scored.select(
        F.row_number().over(w).cast("int").alias("rank"),
        F.col(id_col),
        F.round(F.col("_dm") / F.lit(1e6), 6).alias("approx_dist2"),
    )


def ivfpq_topk(
    df: DataFrame,
    codes: DataFrame,
    codebooks,
    centroids: Sequence[Sequence[float]],
    query_vec,
    k_results: int = 10,
    nprobe: int = 2,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ serving — the full billion-scale ANN composition (FAISS's
    default index family): IVF pruning picks the query's ``nprobe`` cells
    (planning-time partition pruning against a ``write_ivf_index``
    layout), then ADC scores ONLY those candidates from their 16-byte PQ
    codes via the broadcast lookup table. This is the non-residual
    variant (global codebooks; residual-encoding is a centroid-subtract
    away and changes nothing structural). At 100 TB the scan cost is
    nprobe/K of the corpus and the scoring cost is code-bytes, not
    floats. Returns (rank, id, approx_dist2)."""
    probe = _probe_cells(query_vec, centroids, nprobe)
    cand = (
        ivf_assign(df, centroids, emb_col)
        .filter(F.col("_cell").isin(probe))
        .select(id_col)
    )
    return pq_topk(
        codes.join(cand, id_col), codebooks, query_vec, k_results=k_results, id_col=id_col
    )


def write_ivfpq_index(
    df: DataFrame,
    codebooks,
    centroids: Sequence[Sequence[float]],
    path: str,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    batch_id: int = -1,
) -> None:
    """Materialize an IVF-PQ index as a cell-partitioned CODE layout:
    ``path/_cell=<i>/batch_id=<e>/...`` rows of (id, sub, code). The two
    levers of billion-scale serving land in the STORAGE layout: the IVF
    cell is a partition column (probe queries prune to nprobe/K of the
    directories at planning time) and only the m_sub code bytes per
    vector are stored — the corpus floats never enter the serving path.
    ``batch_id`` is the ingest epoch (-1 = the base build); see
    :func:`append_ivfpq_index` for why it is a partition column."""
    rows = ivf_assign(df, centroids, emb_col).select(
        F.col(id_col),
        F.posexplode(_pq_codes(codebooks, emb_col)).alias("sub", "code"),
        F.col("_cell"),
    )
    _write_epoch_layout(
        rows, path, batch_id, max(1, len(centroids)), F.col("_cell")
    )


def _write_epoch_layout(rows, path: str, batch_id: int, n_parts: int, *keys) -> None:
    """The shared tail of :func:`write_ivfpq_index` and
    :func:`write_ivfsq_index`: ``rows`` (id, codes…, ``_cell``) land as
    ``_cell=<i>/batch_id=<e>/`` partitions, ``repartition(n_parts,
    *keys)`` first.

    batch_id=-1 is a BASE build (the re-train rebuild event): it must
    truncate the whole path — a dynamic overwrite would leave streamed
    batch_id>=0 partitions encoded under the OLD artifacts in place,
    poisoning served candidates. Dynamic overwrite is reserved for epoch
    appends, where replacing only the replayed epoch's partitions is
    exactly the exactly-once contract. The layout commit lock serializes
    concurrent mutators (appends of DIFFERENT epochs write disjoint
    partitions, but their jobs share the target's _temporary staging; a
    base rebuild racing an append is a true conflict either way); the
    ``append_*`` verbs inherit it by delegation — the lock is NOT
    reentrant per layout."""
    from semantic_index_spark.locking import index_lock

    with index_lock(path):
        # replay ledger (round 12): an epoch already FOLDED into the base
        # by consolidate_ivf_epochs must be skipped — its own partition no
        # longer exists for dynamic overwrite to idempotently replace
        if batch_id >= 0 and _epoch_folded(path, batch_id):
            return
        if batch_id < 0:
            _clear_ivf_meta(path)  # base rebuild resets epoch history
        (
            rows.withColumn("batch_id", F.lit(int(batch_id)))
            .repartition(n_parts, *keys)
            .write.mode("overwrite")
            .option(
                "partitionOverwriteMode", "dynamic" if batch_id >= 0 else "static"
            )
            .partitionBy("_cell", "batch_id")
            .parquet(path)
        )


def append_ivfpq_index(
    df: DataFrame,
    codebooks,
    centroids: Sequence[Sequence[float]],
    path: str,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    batch_id: int = 0,
) -> None:
    """Incremental IVF-PQ maintenance: encode a NEW ingest batch against
    the frozen codebooks, assign cells, and land it under the existing
    layout as ``(_cell, batch_id=<epoch>)`` partitions with DYNAMIC
    partition overwrite. Because cell assignment and PQ encoding are pure
    functions of (embedding, frozen artifacts), the index after N appends
    is row-identical to a from-scratch :func:`write_ivfpq_index` of the
    union (pytest-asserted). Dynamic overwrite keyed by the epoch makes a
    REPLAYED batch overwrite its own partitions instead of duplicating —
    the idempotent-sink upgrade from at-least-once foreachBatch to
    exactly-once.
    Re-training codebooks or centroids is the one rebuild event, exactly
    as for :func:`append_ivf_index`."""
    write_ivfpq_index(
        df,
        codebooks,
        centroids,
        path,
        emb_col=emb_col,
        id_col=id_col,
        batch_id=batch_id,
    )


def ivfpq_topk_indexed(
    spark,
    path: str,
    codebooks,
    centroids: Sequence[Sequence[float]],
    query_vec,
    k_results: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """:func:`ivfpq_topk` over a :func:`write_ivfpq_index` layout — the
    SERVING path: the nprobe cell filter lands on the ``_cell`` partition
    column (planning-time directory prune, no cell recompute, no corpus
    scan), then ADC scores the surviving code rows via the broadcast
    lookup table. Results equal ``ivfpq_topk`` on the raw table with the
    same frozen artifacts (pytest-asserted)."""
    probe = _probe_cells(query_vec, centroids, nprobe)
    codes = spark.read.parquet(path).filter(F.col("_cell").isin(probe))
    return pq_topk(
        codes, codebooks, query_vec, k_results=k_results, id_col=id_col
    )


def mutual_nn(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    max_rows: int = 100_000,
) -> DataFrame:
    """Mutual nearest neighbors (reciprocal best match): pairs (a, b)
    where b is a's best non-self neighbor AND a is b's — the alignment
    primitive behind bitext mining, cross-snapshot record alignment, and
    high-precision duplicate seeding (a mutual edge is far stronger
    evidence than a one-way NN). [absent in reference — north-star
    extension]

    Exact by construction: one :func:`topk_multi` pass (k=2 — if self is
    not in a vector's top-2, both survivors outscore self, so rank-1
    non-self is still the true best), a per-query argmax window keyed by
    the high-cardinality query id, and one self-equi-join on the
    (a→b, b→a) edge. Exact all-pairs NN is inherently O(N²) — this
    operator's contract is a capped/sampled panel (``max_rows`` guards
    the broadcast); at corpus scale, seed candidates with
    :func:`lsh_topk`/:func:`ivfpq_topk` and verify mutuality the same
    way. Returns (id_a, id_b, score) with id_a < id_b.
    """
    qs = df.select(
        F.col(id_col).alias("q_id"), F.col(emb_col).alias("q_embedding")
    )
    nn2 = topk_multi(df, qs, k=2, emb_col=emb_col, id_col=id_col, max_queries=max_rows)
    best = nn2.filter(F.col(id_col) != F.col("q_id"))
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc(id_col))
    b1 = (
        best.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select(F.col("q_id").alias("a"), F.col(id_col).alias("b"), "score")
    )
    x, y = b1.alias("x"), b1.alias("y")
    return (
        x.join(y, (F.col("y.a") == F.col("x.b")) & (F.col("y.b") == F.col("x.a")))
        .filter(F.col("x.a") < F.col("x.b"))
        .select(
            F.col("x.a").alias("id_a"),
            F.col("x.b").alias("id_b"),
            F.col("x.score").alias("score"),
        )
    )


def mrl_truncate(
    df: DataFrame, dims: int, emb_col: str = "embedding", renormalize: bool = True
) -> DataFrame:
    """Matryoshka-style truncated embeddings (Kusupati et al. 2022): keep
    the first ``dims`` coordinates and (by default) re-normalize to unit
    length — the memory/recall dial MRL-trained encoders expose, where
    prefixes of the vector are themselves valid embeddings. Serving at
    dims=d/4 cuts vector IO and dot-product FLOPs 4× against a modest
    recall loss (measure it with :func:`ann_recall` against the full-dim
    top-k). Pure JVM expressions: slice + one aggregate-fold norm per
    vector — no Python in the corpus path. [absent in reference —
    north-star extension; public MRL paper semantics]"""
    if dims < 1:
        raise ValueError("mrl_truncate: dims must be >= 1")
    sliced = F.slice(F.col(emb_col), 1, dims)
    if renormalize:
        norm = F.sqrt(
            F.aggregate(
                sliced,
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        )
        # bind the O(d) norm fold once per vector; inlined into the
        # per-element lambda it would run d times
        sliced = F.transform(
            F.array(norm),
            lambda nm: F.transform(
                sliced,
                lambda x: F.when(nm > 0, x.cast("double") / nm).otherwise(
                    F.lit(0.0)
                ),
            ),
        )[0]
    return df.withColumn(emb_col, sliced.cast("array<double>"))


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8) — int8 codes + asymmetric scoring + exact rescore
# ---------------------------------------------------------------------------


def sq_train(df: DataFrame, emb_col: str = "embedding") -> dict:
    """Train an int8 scalar quantizer (FAISS ``SQ8``): per-dimension
    [lo, hi] over the corpus, step = (hi-lo)/255. The most common
    production vector compression — 4x less scan IO than float32 with
    near-zero recall loss at rescored serving. One pass: posexplode to
    (dim, value) rows with map-side partial min/max, so only ``dim`` rows
    ever reach the driver (bounded-model contract). min/max of floats are
    EXACT (no accumulation), which is what makes the encoder — and its
    DuckDB oracle — bit-deterministic cross-engine. Returns
    ``{"lo": [d], "step": [d]}``. [absent in reference — north-star
    extension; public FAISS scalar-quantizer semantics]"""
    dims = (
        df.select(F.posexplode(emb_col).alias("dim0", "v"))
        .groupBy("dim0")
        .agg(F.min(F.col("v").cast("double")).alias("lo"),
             F.max(F.col("v").cast("double")).alias("hi"))
    )
    rows = collect_bounded(dims, 4096, "sq_train per-dim bounds")
    if not rows:
        raise ValueError("sq_train: input DataFrame is empty")
    by_dim = {r["dim0"]: r for r in rows}
    lo = [by_dim[i]["lo"] for i in range(len(rows))]
    # one double division per dim, same op the oracle runs: deterministic
    step = [(by_dim[i]["hi"] - by_dim[i]["lo"]) / 255.0 for i in range(len(rows))]
    return {"lo": lo, "step": step}


def sq_encode(
    df: DataFrame,
    model: dict,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "codes",
) -> DataFrame:
    """Encode against a FROZEN quantizer (same incremental-maintenance
    contract as :func:`pq_encode`): code = clamp(floor((v-lo)/step+0.5),
    0..255) stored SHIFTED by -128 as ``array<tinyint>`` — parquet then
    holds byte arrays, the real 4x memory/IO cut that is this operator's
    point. The half-up rounding is written as floor(x+0.5) so
    ``indexed_np.sq_codes_np`` (run per Arrow batch, the encoder every
    table shard runs) and the DuckDB oracle compute the identical double
    expression; constant dimensions (step=0) encode to 0. Keeps (id,
    codes)."""
    return df.select(F.col(id_col), _sq_codes(model, emb_col).alias(out_col))


def _sq_codes(model: dict, emb_col: str):
    """The int8 code array of each row as one ``array<tinyint>`` column —
    ``indexed_np.sq_codes_np`` per Arrow batch."""
    from pyspark.sql.types import ArrayType, ByteType

    from semantic_index_spark.sources.indexed_np import sq_codes_np

    return _np_column(lambda m: sq_codes_np(m, model), ArrayType(ByteType()), emb_col)


def sq_topk_rescore(
    codes: DataFrame,
    vectors: DataFrame,
    model: dict,
    query: Sequence[float],
    k: int = 10,
    candidates: int = 50,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    codes_col: str = "codes",
) -> DataFrame:
    """Two-stage SQ8 serving — the billion-scale pattern: (1) asymmetric
    scan over the int8 CODES only (score = sum_d q[d]*(lo[d]+step[d]*
    (code[d]+128)), a fold over bytes — the float corpus is never read),
    bounded top-``candidates`` via TakeOrderedAndProject; (2) join the
    candidate ids back to the float vectors and rescore EXACTLY, top-k
    (:func:`rerank_exact`). At 100 TB stage 1 reads 1/4 the bytes of a
    float scan and stage 2 touches ``candidates`` rows; the candidate
    join is a broadcast left-semi (the candidate set is k-bounded
    driver-side knowledge, never the corpus).
    Deterministic: both stages order by (rounded score DESC, id).
    Returns (id, score) with the EXACT dot score."""
    lo = V.lit_double_array(model["lo"])
    step = V.lit_double_array(model["step"])
    q = V.lit_double_array(list(query))
    c = F.col(codes_col)
    # zip_with chain so the codes array is referenced ONCE: a
    # transform-over-indices would read c[i] once per dimension. Per-element
    # term keeps the double op order q[i]*(lo[i]+step[i]*(code[i]+128.0))
    # and the fold keeps ascending-index order, so the ADC score matches
    # the oracle bit for bit.
    inner = F.zip_with(
        step, c, lambda s, ci: s * (ci.cast("double") + F.lit(128.0))
    )
    adc = F.aggregate(
        F.zip_with(q, F.zip_with(lo, inner, lambda l, x: l + x), lambda qi, x: qi * x),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cand = (
        codes.select(F.col(id_col), F.round(adc, 6).alias("_adc"))
        .orderBy(F.desc("_adc"), F.asc(id_col))
        .limit(candidates)
    )
    return rerank_exact(vectors, cand, query, k, emb_col, id_col)


def ivf_topk_filtered(
    spark,
    path: str,
    query: Sequence[float],
    centroids: Sequence[Sequence[float]],
    predicate: str,
    k: int = 10,
    nprobe: int = 2,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Metadata-FILTERED vector search over a :func:`write_ivf_index`
    layout — the "WHERE label = x AND vector near q" query every vector
    store serves: the cell probe prunes DIRECTORIES at planning time
    (PartitionFilters) and the metadata ``predicate`` (a SQL expression
    over the index's payload columns) pushes into the parquet scan of the
    surviving cells (PushedFilters), so the scan reads only probed-cell
    files and only matching row groups; scoring ranks what remains.
    Same approximation contract as :func:`ivf_topk_indexed` — exact
    within the probed cells; raise ``nprobe`` when the filter is
    selective enough to starve the candidate pool."""
    probe = _probe_cells(query, centroids, nprobe)
    cand = (
        spark.read.parquet(path)
        .filter(F.col("_cell").isin(probe))
        .filter(F.expr(predicate))
    )
    return topk(cand, query, k, emb_col, id_col)


def late_interaction_topk(
    doc_tokens: DataFrame,
    query_vecs: Sequence[Sequence[float]],
    k: int = 10,
    doc_col: str = "doc_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """ColBERT-style late-interaction retrieval (Khattab & Zaharia 2020):
    documents are MULTI-vector (one embedding per token, long-form
    (doc_id, embedding) rows); score(d) = sum over query tokens of the
    MAX dot against any token of d (MaxSim). The query side is a handful
    of vectors, so the plan is a broadcast of |Q| rows against the token
    corpus — one scan, map-side dots, then (doc, qtok) max and per-doc
    sum partial-aggs; no shuffle ever carries more than one row per
    (doc, qtok). Scores are fixed-point MICRO-integers (floor(dot*1e6
    +0.5), the repo's cross-engine determinism trick): max/sum over
    bigints are exact, so result hashes are engine-independent. Returns
    (doc_id, score_micros) top-k by (score DESC, doc_id).
    [absent in reference — north-star extension; public ColBERT paper
    semantics]"""
    spark = doc_tokens.sparkSession
    qdf = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(query_vecs)],
        "q_id int, qvec array<double>",
    )
    dot = F.aggregate(
        F.zip_with(
            F.col(emb_col),
            F.col("qvec"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    micros = F.floor(dot * 1e6 + F.lit(0.5)).cast("bigint")
    return (
        doc_tokens.crossJoin(F.broadcast(qdf))
        .select(F.col(doc_col), F.col("q_id"), micros.alias("m"))
        .groupBy(doc_col, "q_id")
        .agg(F.max("m").alias("mx"))
        .groupBy(doc_col)
        .agg(F.sum("mx").alias("score_micros"))
        .orderBy(F.desc("score_micros"), F.asc(doc_col))
        .limit(k)
    )


def write_ivfsq_index(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    model: dict,
    path: str,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    files_per_cell: int = 1,
    batch_id: int = -1,
) -> None:
    """Materialize an IVF-SQ8 index (FAISS ``IVF,SQ8``): rows are assigned
    to centroid cells and stored as ``_cell=<i>/batch_id=<e>/`` parquet
    partitions holding only (id, int8 codes) — the float corpus never
    enters the serving layout. Probes then compose BOTH savings:
    planning-time cell pruning (PartitionFilters skips ~(K-nprobe)/K of
    the files) AND the 4x byte cut of byte-array codes inside the probed
    cells. Payload columns beyond (id, codes) are dropped by design —
    rescoring joins candidates back to the source-of-truth float table,
    which stays in cheap cold storage. ``batch_id`` is the ingest epoch
    (-1 = the base build); see :func:`append_ivfsq_index` for why it is a
    partition column — the same exactly-once recipe as
    :func:`write_ivfpq_index`."""
    codes = ivf_assign(df, centroids, emb_col).select(
        F.col(id_col), _sq_codes(model, emb_col).alias("codes"), F.col("_cell")
    )
    salt = F.pmod(F.abs(F.hash(F.col(id_col))), F.lit(max(1, files_per_cell)))
    _write_epoch_layout(
        codes, path, batch_id,
        max(1, files_per_cell) * max(1, len(centroids)), F.col("_cell"), salt,
    )


def append_ivfsq_index(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    model: dict,
    path: str,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    files_per_cell: int = 1,
    batch_id: int = 0,
) -> None:
    """Incremental IVF-SQ8 maintenance — the byte-code twin of
    :func:`append_ivfpq_index`, completing symmetry across the two
    compressed served layouts: encode a NEW ingest batch against the
    FROZEN quantizer, assign cells against the frozen centroids, and land
    it under the existing layout as ``(_cell, batch_id=<epoch>)``
    partitions with DYNAMIC partition overwrite. Cell assignment and SQ8
    encoding are pure functions of (embedding, frozen artifacts), so the
    index after N appends is row-identical to a from-scratch
    :func:`write_ivfsq_index` of the union (pytest-asserted); dynamic
    overwrite keyed by the epoch makes a REPLAYED batch overwrite its own
    partitions instead of duplicating (exactly-once without a transaction
    log). Re-training the quantizer or centroids is the one rebuild
    event."""
    write_ivfsq_index(
        df,
        centroids,
        model,
        path,
        emb_col=emb_col,
        id_col=id_col,
        files_per_cell=files_per_cell,
        batch_id=batch_id,
    )


def ivfsq_topk_indexed(
    spark,
    path: str,
    vectors: DataFrame,
    model: dict,
    query: Sequence[float],
    centroids: Sequence[Sequence[float]],
    k: int = 10,
    nprobe: int = 2,
    candidates: int = 50,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Serve top-k from a :func:`write_ivfsq_index` layout — the composed
    two-stage probe: (1) the cell filter prunes non-probed partitions at
    PLANNING time, the surviving cells' byte codes score asymmetrically
    into a bounded top-``candidates`` set; (2) candidate ids broadcast
    back onto the float ``vectors`` table for the EXACT rescore.
    Approximation contract = ivf_topk's (exact within probed cells,
    given enough ``candidates``); determinism contract = sq_topk_rescore's
    (both stages order by rounded score DESC, id)."""
    probe = _probe_cells(query, centroids, nprobe)
    codes = spark.read.parquet(path).filter(F.col("_cell").isin(probe))
    return sq_topk_rescore(
        codes, vectors, model, query,
        k=k, candidates=candidates, id_col=id_col, emb_col=emb_col,
    )


# ---- epoch consolidation for the batch_id layouts (round 12) ---------------
# The IVF-PQ / IVF-SQ8 served layouts absorb streamed ingest as
# ``(_cell, batch_id=<epoch>)`` partitions — exactly-once by dynamic
# partition overwrite. After many epochs every probed cell fans out into
# per-epoch directories/files; consolidation folds all epochs into the
# base (batch_id=-1) — the OPTIMIZE half of the trade, the code-layout
# twin of ``hnsw.compact_hnsw_index`` — and records the folded epochs in
# a replay LEDGER (``_ivf_meta.json``) so a re-delivered epoch is SKIPPED
# instead of re-appended as a duplicate partition (the dynamic-overwrite
# idempotency it used to rely on no longer has its partition to land on).
# Crash contract mirrors the HNSW compact: full write to a sibling temp
# directory whose meta is written LAST (meta presence == complete), then
# two renames; recover_ivf_layout repairs every crash state.


def _ivf_meta_path(path: str) -> str:
    import os

    return os.path.join(path, "_ivf_meta.json")


def _read_ivf_meta(path: str) -> dict:
    import json
    import os

    if not os.path.exists(_ivf_meta_path(path)):
        return {}
    with open(_ivf_meta_path(path)) as f:
        return json.load(f)


def _epoch_folded(path: str, batch_id: int) -> bool:
    return int(batch_id) in set(_read_ivf_meta(path).get("folded_epochs", []))


def _clear_ivf_meta(path: str) -> None:
    """A base rebuild (batch_id=-1, the re-train event) resets epoch
    history: old epochs' content is replaced wholesale, so the ledger
    must not keep skipping their ids if the stream restarts numbering."""
    import contextlib
    import os

    with contextlib.suppress(FileNotFoundError):
        os.remove(_ivf_meta_path(path))


def _ivf_layout_listing(path: str):
    """(cells, live_epochs, n_files, max_files_per_cell) from the
    directory tree — driver-side metadata walk, the same cost the
    planner's partition discovery pays."""
    import os

    cells, epochs, n_files, max_fpc = [], set(), 0, 0
    for d in sorted(os.listdir(path)):
        if not d.startswith("_cell="):
            continue
        cells.append(d)
        c_files = 0
        croot = os.path.join(path, d)
        for root, _dirs, files in os.walk(croot):
            rel = os.path.relpath(root, croot)
            if rel.startswith("batch_id="):
                e = int(rel.split("=", 1)[1].split(os.sep, 1)[0])
                if e >= 0:
                    epochs.add(e)
            c_files += sum(
                1 for fn in files if not fn.startswith((".", "_"))
            )
        n_files += c_files
        max_fpc = max(max_fpc, c_files)
    return cells, epochs, n_files, max_fpc


def ivf_maintenance_status(path: str, epoch_threshold: int = 4) -> dict:
    """Dry-run consolidation advisor for a batch_id-partitioned IVF
    layout (PQ/SQ8) — the served-layout twin of
    ``hnsw.hnsw_maintenance_status``: reports the live (un-folded) epoch
    count, file fan-out per cell, the replay ledger, and a
    ``recommend_consolidate`` verdict once live epochs reach the
    threshold. Pure driver-side listing; mutates nothing, takes no
    lock."""
    cells, epochs, n_files, max_fpc = _ivf_layout_listing(path)
    folded = sorted(_read_ivf_meta(path).get("folded_epochs", []))
    return {
        "n_cells": len(cells),
        "live_epochs": sorted(epochs),
        "folded_epochs": folded,
        "n_files": n_files,
        "max_files_per_cell": max_fpc,
        "recommend_consolidate": len(epochs) >= epoch_threshold,
    }


def consolidate_ivf_epochs(spark, path: str, files_per_cell: int = 1) -> int:
    """Fold every streamed epoch into the base partition (batch_id=-1):
    the logical index is BIT-IDENTICAL before and after (cell assignment
    and codes are already materialized — this is a pure layout rewrite,
    pytest-asserted on the serve), but probes stop paying per-epoch
    directory fan-out. The folded epoch ids land in the layout's replay
    ledger so a re-delivered epoch is skipped, keeping the streaming
    exactly-once contract that dynamic partition overwrite provided
    pre-consolidation. Returns the number of epochs folded. Runs under
    the layout commit lock; crash-safe via write-to-temp + two renames
    (``recover_ivf_layout`` repairs the swap window)."""
    import json

    from semantic_index_spark.locking import _swap_in, index_lock

    with index_lock(path):
        cells, epochs, _nf, _mx = _ivf_layout_listing(path)
        if not epochs:
            return 0
        df = spark.read.parquet(path)
        if "batch_id" not in df.columns:
            raise ValueError(
                f"{path} is not an epoch-partitioned layout (no batch_id "
                "partition column) — plain IVF layouts compact with "
                "io.compact_parquet"
            )
        payload = [c for c in df.columns if c not in ("_cell", "batch_id")]
        folded = sorted(
            set(_read_ivf_meta(path).get("folded_epochs", [])) | epochs
        )
        salt = F.pmod(
            F.abs(F.hash(F.col(payload[0]))), F.lit(max(1, files_per_cell))
        )

        def write(tmp):
            (
                df.select(*payload, "_cell")
                .withColumn("batch_id", F.lit(-1))
                .repartition(
                    max(1, files_per_cell) * max(1, len(cells)),
                    F.col("_cell"), salt,
                )
                .write.mode("errorifexists")
                .partitionBy("_cell", "batch_id")
                .parquet(tmp)
            )
            # the ledger is tmp's LAST write: meta presence marks a
            # COMPLETE consolidated layout (the recover verb's test)
            with open(_ivf_meta_path(tmp), "w") as f:
                json.dump({"folded_epochs": folded}, f)

        _swap_in(path, "consolidate", write)
        return len(epochs)


def recover_ivf_layout(path: str) -> str:
    """Repair a layout after a crash inside
    :func:`consolidate_ivf_epochs`'s swap window — the protocol
    ``hnsw.recover_hnsw_layout`` shares (``locking._recover_swap``):
    ``path`` present → debris cleanup
    ("ok"); ``path`` missing + complete temp (its meta exists, written
    last) → finish the swap ("recovered-new"); ``path`` missing + the
    old layout aside (complete by construction — it was live) → rename
    back ("recovered-old"). Raises when no complete layout exists."""
    import os

    from semantic_index_spark.locking import _recover_swap

    return _recover_swap(
        path, "consolidate", "IVF",
        lambda tmp: os.path.exists(_ivf_meta_path(tmp)),
        lambda old: any(d.startswith("_cell=") for d in os.listdir(old)),
    )
