"""The index encoders: numpy/pyarrow only, no SparkSession. Every
IVF-SQ8 and IVF-PQ code comes from here, for table shards and
standalone layouts alike:

- table shards: the Spark verbs (attach, merge, OPTIMIZE) run
  :func:`write_bucket_shards` inside one ``groupBy(part).applyInArrow``
  task per bucket (``indexed._write_shards``), and the SQL front door's
  ``INSERT INTO`` commit worker calls it directly. Both also write their
  bucket data files through :func:`_write_parquet`, the one fixed-name
  writer with one dictionary policy;
- standalone rows: ``similarity.sq_encode`` / ``pq_encode``, the
  ``write_ivfsq_index`` / ``write_ivfpq_index`` layouts, each of
  ``pq_train``'s Lloyd rounds and ``ivf_assign`` for k > 16 run
  :func:`sq_codes_np` / :func:`pq_codes_np` / :func:`ivf_cells_np` per
  Arrow batch (``similarity._np_column``).

Fold dots and squared distances are SEQUENTIAL per-dimension sums
(``acc = (acc + x_d * y_d)``, the left-fold order of
``functions.vector.dot``'s ``F.aggregate``; a BLAS ``matmul`` would
reassociate the sum and could flip a near tie); SQ8 runs the clamped
``floor((v - lo)/step + 0.5)`` double arithmetic the oracles run, and PQ
takes the first minimum (= smallest code), the oracles' ``ORDER BY
distance, code`` tie-break. An HNSW shard is ``hnsw._grow`` from an
empty graph, the operation the standalone ``build_hnsw`` and
``append_hnsw_index`` tasks run, written in ``hnsw.SHARD_SCHEMA``'s row
format (the graph is a function of the id set, not of row order).

One encoder stays mirrored: IVF cells for k ≤ 16 are also a JVM dot fold
in ``similarity.ivf_assign`` (the ``ivf_silhouette`` row keeps Python
out of its plan, and DuckDB's ``_duck_ivf_cell`` mirrors it).
:func:`ivf_cells_np` reproduces that fold bit for bit, and pytest locks
the pair (``test_table_index_codes_match_standalone_encoders``).
"""

from __future__ import annotations

import os

#: IVF index kind → the Spark schema of the shard files this module
#: writes, plus the partition columns of the ``shard=<b>/_cell=<c>``
#: layout the serves read them under; ``{key}`` is the table key's type.
#: HNSW shards are ``hnsw.SHARD_SCHEMA`` rows
SHARD_DDL = {
    "ivfsq": "vec_id {key}, codes array<tinyint>, shard int, _cell int",
    "ivfpq": "vec_id {key}, sub int, code int, shard int, _cell int",
}


def _fold_dot(mat, vec):
    """Sequential per-dim fold of mat @ vec — bit-exact with
    ``functions.vector.dot``'s aggregate left fold (NOT a BLAS dot)."""
    import numpy as np

    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for d in range(mat.shape[1]):
        acc = acc + mat[:, d] * vec[d]
    return acc


def _fold_sqdist(mat, vec):
    """Sequential fold of sum((x-y)^2), the PQ subspace distance."""
    import numpy as np

    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for d in range(mat.shape[1]):
        diff = mat[:, d] - vec[d]
        acc = acc + diff * diff
    return acc


def ivf_cells_np(mat, centroids):
    """IVF cell = index of the max-dot centroid. k ≤ 16 mirrors
    ``similarity.ivf_assign``'s JVM fold (per-centroid fold dots,
    first-max argmax == array_position of array_max); k > 16 is a
    float64 matmul + argmax, which ``ivf_assign`` runs through this
    function."""
    import numpy as np

    k = len(centroids)
    C = np.asarray([[float(x) for x in c] for c in centroids], dtype=np.float64)
    if k <= 16:
        dots = np.stack([_fold_dot(mat, C[i]) for i in range(k)], axis=1)
    else:
        dots = mat @ C.T
    return np.argmax(dots, axis=1).astype(np.int32)


def sq_codes_np(mat, model):
    """SQ8 codes: code = clamp(floor((v - lo) / step + 0.5), 0..255) -
    128 as int8; step == 0 dims encode to 0 (stored -128) — the double
    expression the DuckDB oracle runs. (n, d) int8."""
    import numpy as np

    lo = np.asarray(model["lo"], dtype=np.float64)
    step = np.asarray(model["step"], dtype=np.float64)
    safe = np.where(step == 0.0, 1.0, step)
    code = np.floor((mat - lo) / safe + 0.5)
    code = np.clip(code, 0.0, 255.0)
    code = np.where(step == 0.0, 0.0, code)
    return (code - 128.0).astype(np.int8)


def pq_codes_np(mat, codebooks):
    """PQ codes: per subspace, the argmin over codebook entries of the
    sequentially-folded squared distance; ``np.argmin`` takes the FIRST
    minimum = the smallest code, the DuckDB oracle's ``ORDER BY
    distance, code`` tie-break. Returns (n, m_sub) int32."""
    import numpy as np

    m_sub = len(codebooks)
    subdim = len(codebooks[0][0])
    n = mat.shape[0]
    out = np.empty((n, m_sub), dtype=np.int32)
    for s in range(m_sub):
        sub = mat[:, s * subdim : (s + 1) * subdim]
        d = np.stack(
            [
                _fold_sqdist(sub, np.asarray(c, dtype=np.float64))
                for c in codebooks[s]
            ],
            axis=1,
        )
        out[:, s] = np.argmin(d, axis=1)
    return out


def _emb_matrix(col):
    """(n, d) float64 matrix from an arrow list column (chunked or not)
    — float32 source columns widen exactly, matching Spark's
    ``cast("array<double>")``."""
    import numpy as np
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64).reshape(len(col), -1)


def _dictionary_columns(schema) -> list:
    """The parquet leaf paths that keep dictionary pages: every top-level
    and list leaf but the floats inside a list (struct and map leaves are
    written plain). Dictionary pages pay off for ids, levels and codes
    but bloat float lists (a 500-row HNSW ``embedding`` column: 257 KB
    dictionary-encoded, 197 KB plain — Spark's writer falls back to
    plain there on its own)."""
    import pyarrow as pa

    out = []

    def walk(t, path, in_list):
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            walk(t.value_type, path + ".list.element", True)
        elif not (in_list and pa.types.is_floating(t)):
            out.append(path)  # a struct or map path matches no leaf: plain

    for f in schema:
        walk(f.type, f.name, False)
    return out


def _write_parquet(out, d: str) -> None:
    """One fixed-name file per leaf directory (index shard leaf or table
    bucket), so a retried task overwrites it byte for byte."""
    import pyarrow.parquet as pq

    os.makedirs(d, exist_ok=True)
    pq.write_table(
        out, os.path.join(d, "part-00000.parquet"),
        use_dictionary=_dictionary_columns(out.schema),
    )


def write_bucket_shards(
    staged: str, plan: dict, bucket: int, tbl, key: str
) -> None:
    """Every index's shard for ONE rewritten bucket: ``plan`` maps each
    index's artifact directory to its params, ``tbl`` is the bucket's
    content (arrow, LOGICAL column names). Rows are sorted by key first,
    so the files are a function of the bucket's row set, not of the
    order a shuffle delivered it in."""
    tbl = tbl.sort_by(key)
    for idx_dir, params in plan.items():
        write_index_shard_np(staged, idx_dir, bucket, params, tbl, key)


def write_index_shard_np(
    staged: str,
    idx_dir: str,
    bucket: int,
    params: dict,
    tbl,
    key: str,
) -> None:
    """Build ONE index's shard for ONE rewritten bucket from the merged
    bucket content (arrow table, LOGICAL column names) and write it into
    the staged commit directory in the ``partitionBy`` layout the serves
    read: ``shard=<b>/`` (HNSW) or ``shard=<b>/_cell=<c>/`` (IVF kinds),
    one file per leaf."""
    import numpy as np
    import pyarrow as pa

    kind = params.get("kind", "hnsw")
    mat = _emb_matrix(tbl.column(params["emb_col"]))
    ids = tbl.column(key)
    if kind == "hnsw":
        from semantic_index_spark.operators.hnsw import _grow

        rows = _grow(
            None, ids, mat, params["m"], params["ef_construction"], params["seed"]
        )
        _write_parquet(rows, os.path.join(staged, idx_dir, f"shard={int(bucket)}"))
        return
    cells = ivf_cells_np(mat, params["centroids"])
    if kind == "ivfsq":
        codes = sq_codes_np(mat, params["model"])
        for c in np.unique(cells):
            m = cells == c
            out = pa.table(
                {
                    "vec_id": ids.filter(pa.array(m)).combine_chunks(),
                    "codes": pa.array(
                        [row.tolist() for row in codes[m]],
                        pa.list_(pa.int8()),
                    ),
                }
            )
            _write_parquet(out, os.path.join(
                staged, idx_dir, f"shard={int(bucket)}", f"_cell={int(c)}"
            ))
        return
    if kind == "ivfpq":
        pqc = pq_codes_np(mat, params["codebooks"])
        m_sub = pqc.shape[1]
        for c in np.unique(cells):
            m = cells == c
            import pyarrow.compute as pc

            sel = ids.filter(pa.array(m)).combine_chunks()
            n_sel = len(sel)
            # long-form (vec_id, sub, code) rows
            idx_take = np.tile(np.arange(n_sel), m_sub)
            vec_long = pc.take(sel, pa.array(idx_take, pa.int64()))
            sub_long = np.repeat(np.arange(m_sub, dtype=np.int32), n_sel)
            code_long = pqc[m].T.reshape(-1).astype(np.int32)
            out = pa.table(
                {
                    "vec_id": vec_long,
                    "sub": pa.array(sub_long, pa.int32()),
                    "code": pa.array(code_long, pa.int32()),
                }
            )
            _write_parquet(out, os.path.join(
                staged, idx_dir, f"shard={int(bucket)}", f"_cell={int(c)}"
            ))
        return
    raise ValueError(f"unknown co-committed index kind {kind!r}")
