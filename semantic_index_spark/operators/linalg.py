"""Distributed linear algebra over embedding columns: covariance and
random projection.

[absent in reference — north-star extension] The standard embedding
pipeline steps the reference's brute-force scan never needs but a 100 TB
corpus does: estimate the d×d covariance of an `array<float>` column in
ONE pass, and cut dimensions with a fixed random projection. Dim-reduced
embeddings cut ANN storage/compute ~d/k× with bounded recall loss — the
classic pre-step for IVF/LSH retrieval (see operators.similarity) and
SemDeDup-style clustering.

Scale shape: `mapInPandas` computes per-PARTITION Gram partials (one d×d
numpy matrix per partition, BLAS `X.T @ X` over Arrow batches — never a
per-row explode of d² pairs), so the shuffle carries ≤ partitions·(d²+d+1)
tiny rows into a groupBy over ≤ d²+d+1 keys. Partials are `+`-mergeable —
the same incremental property as the HLL/CMS/histogram sketches, so
per-day covariances fold into a corpus covariance without re-scanning
history. Projection is k literal-vector dot products — whole-stage
codegen, no Python, no join.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

_ENTRY_SCHEMA = "i int, j int, v double"


def covariance_entries(df: DataFrame, col: str, dim: int) -> DataFrame:
    """One-pass sufficient statistics for the covariance of ``df[col]``:
    rows ``(i, j, v)`` where (i≥0, j≥0) carries Σ e_i·e_j (upper triangle,
    i ≤ j), (i, -1) carries Σ e_i, and (-1, -1) carries n. Mergeable by
    summing ``v`` per (i, j) — union entries from several epochs and
    groupBy-sum to get the union's statistics exactly. NULL vectors are
    skipped (JVM-side, like every sketch builder); a WRONG-LENGTH vector
    raises a clear ValueError rather than a numpy shape error."""
    if dim < 1:
        raise ValueError(f"covariance_entries: need dim >= 1, got {dim}")

    def _partials(batches):
        import numpy as np
        import pandas as pd

        n = 0
        s = np.zeros(dim, dtype=np.float64)
        gram = np.zeros((dim, dim), dtype=np.float64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = list(pdf[col])
            bad = {len(v) for v in vecs if len(v) != dim}
            if bad:
                raise ValueError(
                    f"covariance_entries: expected dim {dim}, got {sorted(bad)}"
                )
            x = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
            n += x.shape[0]
            s += x.sum(axis=0)
            gram += x.T @ x
        iu, ju = [], []
        for a in range(dim):
            for b in range(a, dim):
                iu.append(a)
                ju.append(b)
        out = pd.DataFrame(
            {
                "i": iu + list(range(dim)) + [-1],
                "j": ju + [-1] * dim + [-1],
                "v": [gram[a][b] for a, b in zip(iu, ju)] + list(s) + [float(n)],
            }
        )
        yield out

    entries = (
        df.select(col)
        .where(F.col(col).isNotNull())
        .mapInPandas(_partials, _ENTRY_SCHEMA)
    )
    return entries.groupBy("i", "j").agg(F.sum("v").alias("v"))


def random_projection(
    df: DataFrame,
    planes: list[list[float]],
    emb_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: map each embedding onto k
    fixed random directions — dimensionality reduction at SCAN speed, no
    training pass, no shuffle, no state. The JL lemma bounds pairwise-
    distance distortion at O(sqrt(ln N / k)), which is why this is the
    standard cheap pre-step when PCA's covariance pass (see
    :func:`covariance_entries`) is not worth a corpus scan: the planes
    are literals baked into the projection expressions, so the whole
    operator is a map-only codegen projection that composes with any
    downstream ANN/clustering operator. Appends rp0..rp{k-1}."""
    from semantic_index_spark.functions import vector as V

    return df.select(
        "*",
        *[
            F.round(V.dot_literal(F.col(emb_col), p), decimals).alias(f"rp{i}")
            for i, p in enumerate(planes)
        ],
    )
