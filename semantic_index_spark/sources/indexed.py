"""Transactionally co-committed ANN index for bucketed tables.

[absent in reference — north-star extension; design spike for
ARCHITECTURE.md "Index ∘ table atomicity"]. The standalone index
layouts (``operators/hnsw.py``, ``operators/similarity.py``) live
OUTSIDE the versioned store: a MERGE that rewrites buckets and the
index append that should accompany it are two non-atomic operations
with no shared version — no time travel for indexes, no crash
consistency between table and index. This module closes that gap the
way real table formats do: the index becomes a TABLE ARTIFACT that
commits in the same manifest publish as the data.

Design:

  * **Bucket-aligned shards.** The table's key must be a single id
    column; index shard ``b`` covers exactly table bucket ``b`` — both
    are ``_bucket_expr`` = ``pmod(xxhash64(id), n_buckets)``. The rows
    needed to rebuild a shard are therefore exactly the rewritten
    bucket's rows, which the merge has already computed — zero extra
    table reads — and at cluster scale the shard is co-located with its
    bucket.
  * **One pass per commit, one task per bucket, one encoder per kind.**
    Attach, merge and OPTIMIZE run ONE ``groupBy(part).applyInArrow``
    pass (:func:`_write_shards`) whose partition key gives every
    rewritten bucket a task of its own. A merge or OPTIMIZE task sorts
    its bucket's rows by key, writes the bucket's single data file, and
    then, from the same Arrow table, runs
    ``indexed_np.write_bucket_shards`` for every index the manifest
    carries; attach writes the shards only. All files have fixed names
    in the staged directory, and data and shards come from one
    evaluation of the rows, so nothing is pinned between two consumers.
    The SQL ``INSERT INTO`` worker runs the same encoder, so no
    Spark-side encoder is kept in step with it. One bucket must fit in
    one Python worker; tables without an index keep Spark's writer.
  * **One staged directory, one publish.** The merge's rebuilt shards
    are written into the SAME ``_staged_<uuid>`` directory as its
    bucket data (under ``__idx_<name>/shard=<b>``), and the manifest's
    ``indexes[*].shards`` ownership map advances in the SAME manifest write —
    one directory rename + one pointer swap covers both. A crash at ANY
    point therefore leaves the table and the index at the same version:
    a reader can never observe a merged table with a stale index or an
    index containing rows the table commit never published
    (pytest-simulated crashes at both failure points).
  * **Time travel for free.** ``index.shards`` maps each shard to its
    owning version exactly like ``buckets`` does for data, so reading
    the index AS OF version ``n`` is the same manifest walk as reading
    the data — and ``expire_bucketed`` keeps every file a retained
    manifest's index references live.
  * **Deletes stay write-fast.** ``delete_bucketed``'s deletion vectors
    apply to the index as SERVE-TIME tombstones (deleted nodes keep
    routing, never rank — the same waypoint contract as
    ``delete_from_hnsw_index``), read from the manifest the serve
    resolved, so a DV-only commit needs no shard rebuild and time travel
    sees the right deletes.

The full lifecycle maintains the index (round 11, second pass):
OPTIMIZE rebuilds the rewritten buckets' shards from the DV-FOLDED
content in its own commit (when the manifest clears the DV lists, the
deleted nodes are already gone from the graph); RESTORE carries the
target manifest's shard map wholesale (rollback restores the index with
the data, and retention keeps the shard files live); CLONE consolidates
shard graphs under the clone's v=0 exactly like buckets and DVs; DROP /
RENAME COLUMN work on any column except the index's embedding column
(the one name the spec stores — detach/rebuild first), with
column-mapped key names resolved physically on the DV serve path.

Round 12 generalizes the mechanism across index KINDS and COUNT: the
manifest carries ``indexes = {name: {params, shards}}`` — a table holds
any number of NAMED indexes, each spec dispatching on ``params.kind``
through every hook (merge/OPTIMIZE rebuild ALL of them in the one
commit, CLONE consolidates all, RESTORE carries the map wholesale,
drop/rename guards cover every index's embedding column, detach removes
one by name). Shipped kinds: ``hnsw`` (graph shards) and ``ivfsq``
(IVF-partitioned int8 codes with the frozen centroids + quantizer
stored IN the manifest params, so a time-travel serve decodes with
exactly the artifacts its version was encoded under). Artifacts live
under ``__idx_<name>/shard=<b>`` (legacy single-index manifests keep
their kind directory and read as name ``__legacy__``). Serves resolve
by ``name=``, defaulting to the unique index of the requested kind —
ambiguity errors rather than silently picking.

Round 13 opens the STRING-key lane: ``ivfsq`` attaches to a single
string (doc-id) key — its artifact carries ``vec_id`` as an opaque
payload the serve joins back to rows, so the dtype is free — while
``hnsw`` keeps the integral requirement (graph adjacency IS long node
ids) with an error that points string-key users at ivfsq. The remaining
boundary: a single key column (no composite keys).
"""

from __future__ import annotations

import os
import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from semantic_index_spark.sources import versioned as VER

_INTEGRAL = {"byte", "short", "integer", "long"}

# index kind → LEGACY artifact directory (pre-multi-index manifests whose
# single anonymous spec reads as name "__legacy__")
_IDX_DIRS = {"hnsw": "__hnsw", "ivfsq": "__ivfsq"}

_NAME_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _idx_dir(name: str, params: dict) -> str:
    """The index's artifact directory inside each version dir. Named
    indexes (round 12, multi-index tables) get ``__idx_<name>`` so two
    indexes of the same kind never collide; a pre-r12 manifest's
    anonymous spec keeps its kind directory."""
    if name == "__legacy__":
        return _IDX_DIRS[params.get("kind", "hnsw")]
    return f"__idx_{name}"


def _check_attachable(
    man: dict, table: str, emb_col: str, name: str, allow_string: bool = False
) -> str:
    """Shared attach-time guards; returns the single key column. Integral
    keys work for every kind; ``allow_string`` adds the string-key lane
    (round 13) for kinds whose artifact carries ``vec_id`` as an opaque
    payload column (ivfsq — codes join back to rows by id, no arithmetic
    on it). HNSW stays integral: its graph adjacency IS long node ids."""
    if not _NAME_RE.fullmatch(name):
        raise ValueError(f"invalid index name {name!r}")
    if name in VER._indexes(man):
        raise ValueError(
            f"table {table} already carries a co-committed index named "
            f"{name!r} — detach it first or pick another name"
        )
    keys = man["key_cols"]
    if len(keys) != 1:
        raise ValueError(
            f"attach index: bucket-aligned shards need a single key "
            f"column, table has {keys}"
        )
    key = keys[0]
    fields = VER._manifest_fields(man)
    if emb_col not in fields:
        raise ValueError(f"attach index: no column {emb_col!r} on {table}")
    ktype = fields[key].get("type")
    if ktype not in _INTEGRAL and not (allow_string and ktype == "string"):
        hint = (
            " (string doc-id keys: use attach_ivfsq_index — HNSW graph "
            "node ids are longs)"
            if ktype == "string"
            else ""
        )
        raise ValueError(
            f"attach index: key {key!r} must be integral"
            f"{' or string' if allow_string else ''}, got {ktype}{hint}"
        )
    return key


def _resolve_index(man: dict, name: "str | None", kind: str) -> tuple:
    """(name, spec) of the index a serve should use: by ``name`` when
    given (kind-checked), else the UNIQUE index of ``kind`` — ambiguity
    is an error, never a silent pick."""
    idxs = VER._indexes(man)
    if name is not None:
        spec = idxs.get(name)
        if spec is None:
            raise ValueError(f"no co-committed index named {name!r}")
        if spec["params"].get("kind", "hnsw") != kind:
            raise ValueError(
                f"index {name!r} is kind "
                f"{spec['params'].get('kind', 'hnsw')!r}, not {kind!r}"
            )
        return name, spec
    of_kind = {
        n: s for n, s in idxs.items()
        if s["params"].get("kind", "hnsw") == kind
    }
    if not of_kind:
        raise ValueError(
            f"table has no co-committed {kind} index "
            f"(attach_{kind}_index)"
        )
    if len(of_kind) > 1:
        raise ValueError(
            f"table carries {len(of_kind)} {kind} indexes "
            f"({sorted(of_kind)}) — pass name="
        )
    return next(iter(of_kind.items()))


def _partition_keys(buckets) -> dict:
    """``{bucket: long}`` over the rewritten ``buckets``: each bucket's
    long is one that Spark's hash partitioning (``pmod(hash(x), n)``,
    Murmur3 seed 42) sends to partition ``rank(bucket)`` of ``n =
    len(buckets)``. The map is a bijection onto the partitions, so a
    ``repartition(n)`` on it gives every bucket a task of its own.
    Candidate longs are hashed in numpy blocks until every rank has one:
    about n·ln n hashes, no per-bucket loop."""
    import numpy as np

    from semantic_index_spark.sources.versioned_batch import murmur3_long_np

    order = sorted(int(b) for b in buckets)
    n = len(order)
    keys = np.zeros(n, dtype=np.int64)
    found = np.zeros(n, dtype=bool)
    start = 0
    while not found.all():
        cand = np.arange(start, start + 4 * n + 64, dtype=np.int64)
        ranks, first = np.unique(
            murmur3_long_np(cand).astype(np.int64) % n, return_index=True
        )
        new = ~found[ranks]
        keys[ranks[new]] = cand[first[new]]
        found[ranks[new]] = True
        start += len(cand)
    return dict(zip(order, keys.tolist()))


def _write_shards(
    rows: DataFrame, man: dict, specs: dict, staged: str, buckets,
    data: bool = False,
) -> None:
    """The one grouped pass of every Spark-side verb on an indexed table
    (attach, merge, OPTIMIZE): ``groupBy(part).applyInArrow`` over the
    table rows of the rewritten ``buckets``, one task per bucket. With
    ``data`` (merge and OPTIMIZE, through ``versioned._commit_bucketed``)
    the task first writes the bucket's single data file — rows sorted by
    the ``__zkey`` Morton column when present, then by key, physical
    column names — and then, from the same Arrow table, every index's
    shard through ``indexed_np.write_bucket_shards``, so data and shards
    come from one evaluation of ``rows``. Attach writes shards only.
    Every file has a fixed name under ``staged``, so a retried task
    overwrites its own files byte for byte. Shard ``b`` IS bucket ``b``
    (``_bucket_expr`` on the key's manifest dtype); the SQL ``INSERT
    INTO`` worker writes shards through the same encoder.

    Bound: one bucket's rows must fit in one Python worker — the bound
    HNSW shards always had. Placement: hash-partitioning on the bucket
    itself collides (``pmod(hash(b), n)`` put buckets 0 and 1 of 4 in
    one task, which then built both HNSW graphs one after the other),
    and left to AQE a merge's few hundred KB would coalesce into a
    single task. So each bucket maps to its :func:`_partition_keys`
    long, passed as ONE parsed array literal indexed by bucket, and the
    rows repartition on it into exactly ``len(buckets)`` tasks."""
    import pyarrow as pa
    import pyspark.sql.functions as F

    from semantic_index_spark.sources.indexed_np import (
        _write_parquet,
        write_bucket_shards,
    )

    buckets = sorted(int(b) for b in buckets)
    if not buckets:
        return
    key = man["key_cols"][0]
    if data:
        cols = [c for c in rows.columns if c != "__bucket"]
    else:
        emb = {s["params"]["emb_col"] for s in specs.values()} - {key}
        cols = [key, *sorted(emb)]
    colmap = VER._colmap(man)
    plan = {_idx_dir(n, s["params"]): s["params"] for n, s in specs.items()}
    dest = os.path.abspath(staged)
    part_of = _partition_keys(buckets)
    bucket_of = {p: b for b, p in part_of.items()}
    lo = buckets[0]
    lookup = F.expr(
        "array("
        + ",".join(str(part_of.get(b, "NULL")) for b in range(lo, buckets[-1] + 1))
        + ")"
    ).cast("array<bigint>")
    zkey = VER._ZKEY

    def build(group, tbl):
        bucket = bucket_of[group[0].as_py()]
        tbl = tbl.drop_columns(["__part"])
        if data:
            names = [c for c in tbl.column_names if c != zkey]
            tbl = tbl.sort_by(
                [(c, "ascending") for c in (zkey, key) if c in tbl.column_names]
            )
            _write_parquet(
                tbl.select(names).rename_columns([colmap.get(c, c) for c in names]),
                VER._bucket_dir(dest, bucket),
            )
        write_bucket_shards(dest, plan, bucket, tbl, key)
        return pa.table({"shard": pa.array([bucket], pa.int64())})

    bucket = VER._bucket_expr([key], int(man["n_buckets"]))
    rows.select(
        *cols, F.get(lookup, (bucket - lo).cast("int")).alias("__part")
    ).repartition(len(buckets), "__part").groupBy("__part").applyInArrow(
        build, "shard long"
    ).collect()


def _shard_finalizer(specs: dict, affected):
    """The manifest half of a shard build, a ``versioned._publish_bucketed``
    edit: ``finalize(manifest, final, dest)`` advances
    ``indexes[*].shards`` for every index in ``specs`` over the
    ``affected`` buckets — owner ``final`` where the published directory
    holds a ``shard=<b>`` dir, ``None`` where the bucket came out empty —
    and inherits every other shard's owner (and every other index) from
    ``manifest``, the copy of the manifest the commit lands on, so a
    disjoint-bucket rebase keeps both writers' shards exactly like it
    keeps both writers' buckets. Shared by attach, merge, OPTIMIZE and
    the SQL ``INSERT INTO`` commit."""

    def finalize(manifest: dict, final: int, dest: str) -> None:
        base_idxs = VER._indexes(manifest)
        indexes = {n: dict(s) for n, s in base_idxs.items()}
        for iname, spec in specs.items():
            p = spec["params"]
            hdir = os.path.join(dest, _idx_dir(iname, p))
            written = {
                int(d.split("=", 1)[1])
                for d in (os.listdir(hdir) if os.path.isdir(hdir) else [])
                if d.startswith("shard=")
            }
            shards = dict((base_idxs.get(iname) or spec)["shards"])
            for b in affected:
                shards[str(b)] = final if b in written else None
            indexes[iname] = {"params": dict(p), "shards": shards}
        manifest.pop("index", None)  # legacy key re-keys under indexes
        manifest["indexes"] = indexes

    return finalize


def _publish_index(
    table: str, man: dict, name: str, params: dict, rows: DataFrame
) -> int:
    """Build the new index's shards from the table ``rows`` into a staged
    directory and publish the attach commit: shared by every index kind.
    Conditional on the pointer AND marked as touching every bucket, so a
    concurrent data commit conflicts (an index built from pre-commit rows
    must not publish over it); retryable via ``retry_commit``. Other
    indexes on the table are untouched — their specs carry over in the
    manifest edit."""
    staged = VER._staged_path(table)
    os.makedirs(staged)
    specs = {name: {"params": params, "shards": {}}}
    all_buckets = range(int(man["n_buckets"]))
    _write_shards(rows, man, specs, staged, all_buckets)
    return VER._publish_bucketed(
        table, staged, man, set(all_buckets), _shard_finalizer(specs, all_buckets),
        strict_meta=True,
    )


def attach_hnsw_index(
    spark: SparkSession,
    table: str,
    emb_col: str = "embedding",
    m: int = 8,
    ef_construction: int = 64,
    seed: int = 7,
    name: str = "hnsw",
) -> int:
    """Build a bucket-aligned HNSW index over the CURRENT table state and
    commit it as table metadata: the shard graphs stage under the commit's
    version directory (``v=<n>/__idx_<name>/shard=<b>``) and the manifest
    gains ``indexes[name] = {params, shards}``. Conditional on the pointer
    AND marked as touching every bucket, so a concurrent data commit
    conflicts (an index built from pre-commit rows must not publish over
    it); retryable via ``retry_commit``. From this commit on, every
    ``merge_into_bucketed`` rebuilds the affected shards inside its own
    staged commit — the index can never drift from the data."""
    man = VER._read_manifest(table)
    _check_attachable(man, table, emb_col, name)
    params = {
        "kind": "hnsw",
        "emb_col": emb_col,
        "m": int(m),
        "ef_construction": int(ef_construction),
        "seed": int(seed),
    }
    return _publish_index(
        table, man, name, params, VER.read_bucketed(spark, table)
    )


def attach_ivfsq_index(
    spark: SparkSession,
    table: str,
    emb_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 11,
    name: str = "ivfsq",
) -> int:
    """Attach a co-committed IVF-SQ8 index (round 12 — the second index
    kind, FAISS ``IVF,SQ8`` on the table-artifact contract): the current
    table state trains the int8 quantizer (``sq_train``) and fixes
    deterministic centroids; rows land as ``__idx_<name>/shard=<b>/_cell=<c>``
    byte-code partitions in the attach commit's staged directory. The
    FROZEN artifacts (centroids + per-dim lo/step) live in the manifest
    params — re-encoding after any merge uses exactly the artifacts the
    rest of the index was encoded under, and a time-travel serve at
    version n decodes with version n's own params. Same crash/OCC
    contract as ``attach_hnsw_index``."""
    from semantic_index_spark.operators.similarity import make_centroids, sq_train

    man = VER._read_manifest(table)
    key = _check_attachable(man, table, emb_col, name, allow_string=True)
    rows = VER.read_bucketed(spark, table).select(key, emb_col)
    try:  # sq_train's per-dim bounds give the dim and refuse an empty table
        model = sq_train(rows, emb_col=emb_col)
    except ValueError as e:
        raise ValueError(f"attach_ivfsq_index: table {table}: {e}") from e
    params = {
        "kind": "ivfsq",
        "emb_col": emb_col,
        "centroids": make_centroids(int(n_cells), len(model["lo"]), seed),
        "model": model,
        "seed": int(seed),
    }
    return _publish_index(table, man, name, params, rows)


def attach_ivfpq_index(
    spark: SparkSession,
    table: str,
    emb_col: str = "embedding",
    m_sub: int = 3,
    pq_k: int = 16,
    iters: int = 2,
    n_cells: int = 8,
    seed: int = 11,
    name: str = "ivfpq",
) -> int:
    """Attach a co-committed IVF-PQ index (round 13 — the THIRD index
    kind, FAISS ``IVF,PQ`` on the table-artifact contract; VERDICT r12
    task #3): the current table state trains per-subspace PQ codebooks
    (``pq_train``'s Lloyd's loop) and fixes deterministic
    centroids; rows land as ``__idx_<name>/shard=<b>/_cell=<c>``
    long-form (vec_id, sub, code) partitions — ``m_sub`` small codes per
    vector, the best-compression family (16x+ vs floats), previously
    standalone-only (``write_ivfpq_index``) and thus without table
    atomicity or time travel. The FROZEN codebooks + centroids live in
    the manifest params, so every merge re-encodes its rewritten buckets
    against exactly the artifacts the rest of the index was encoded
    under, and a time-travel serve decodes version n with version n's
    own params. String keys ride (codes carry vec_id opaquely). Same
    crash/OCC contract as the other kinds."""
    from semantic_index_spark.operators.similarity import make_centroids, pq_train

    man = VER._read_manifest(table)
    key = _check_attachable(man, table, emb_col, name, allow_string=True)
    # ONE table read feeds both the trainer and the shard build
    tbl = VER.read_bucketed(spark, table)
    rows = tbl.select(
        F.col(key).alias("vec_id"), F.col(emb_col).alias("embedding")
    )
    try:  # pq_train's init rows give the dim and refuse an empty table
        codebooks = pq_train(rows, m_sub=m_sub, k=pq_k, iters=iters)
    except ValueError as e:
        raise ValueError(f"attach_ivfpq_index: table {table}: {e}") from e
    params = {
        "kind": "ivfpq",
        "emb_col": emb_col,
        "centroids": make_centroids(
            int(n_cells), m_sub * len(codebooks[0][0]), seed
        ),
        "codebooks": codebooks,
        "seed": int(seed),
    }
    return _publish_index(table, man, name, params, tbl)


def indexed_ivfpq_topk(
    spark: SparkSession,
    table: str,
    query,
    k: int = 10,
    nprobe: int = 2,
    candidates: int = 50,
    version: int | None = None,
    name: str | None = None,
) -> DataFrame:
    """Serve top-k from the table's co-committed IVF-PQ index AT a table
    version (default latest). Two-stage: (1) planning-time ``_cell``
    pruning to ``nprobe`` cells, asymmetric-distance (ADC) scan of the
    PQ codes via a broadcast (sub, code) → distance lookup table into a
    bounded minimum-L2 candidate set — the corpus floats are never read;
    (2) exact dot rescore against THIS VERSION's table rows
    (``read_bucketed``, deletion vectors already applied — a DV-deleted
    candidate drops at the rescore join, the tombstone contract).
    Columns: ``(vec_id, score)``, exact-dot scores — the same serve
    contract as the other kinds (nprobe = n_cells + candidate slack ⇒
    exhaustive-exact). The candidate stage minimizes L2 ADC distance
    while the rescore maximizes dot — consistent for the unit-norm-ish
    embeddings PQ serves; the exhaustive configuration is metric-
    independent."""
    from semantic_index_spark.operators.similarity import pq_topk, rerank_exact

    def rank(p, codes, vectors):
        cand = pq_topk(
            codes, p["codebooks"], query, k_results=candidates
        ).select("vec_id")
        return rerank_exact(vectors, cand, query, k=k)

    return _ivf_serve(spark, table, query, nprobe, version, name, "ivfpq", rank)


def detach_index(table: str, name: "str | None" = None) -> int:
    """Drop ONE co-committed index (by ``name``; optional while the table
    carries exactly one): a METADATA-ONLY commit whose manifest omits
    that spec — no shard file is touched (retained manifests still
    reference them for time travel; ``expire_bucketed`` reclaims them
    once those manifests age out). After the LAST index detaches, merges
    stop maintaining shards and the embedding column drops/renames
    freely — the verb the drop/rename guards point at. Conflicts with
    ANY concurrent commit (all buckets marked affected + strict
    metadata): a merge that planned index maintenance must not land
    after the spec is gone."""
    man = VER._read_manifest(table)
    idxs = VER._indexes(man)
    if not idxs:
        raise ValueError(f"table {table} has no co-committed index to detach")
    if name is None:
        if len(idxs) > 1:
            raise ValueError(
                f"table {table} carries {len(idxs)} indexes "
                f"({sorted(idxs)}) — pass name="
            )
        name = next(iter(idxs))
    elif name not in idxs:
        raise ValueError(f"table {table} has no co-committed index named {name!r}")

    def edit(manifest: dict, final: int, dest: str) -> None:
        keep = {n: s for n, s in VER._indexes(manifest).items() if n != name}
        manifest.pop("index", None)
        manifest.pop("indexes", None)
        if keep:
            manifest["indexes"] = keep

    return VER._publish_bucketed(
        table, None, man, set(range(int(man["n_buckets"]))), edit,
        strict_meta=True,
    )


# kind-era alias (pre-r12 API): detaches by name like detach_index
detach_hnsw_index = detach_index


def indexed_hnsw_topk(
    spark: SparkSession,
    table: str,
    query,
    k: int = 10,
    ef: int | None = 64,
    version: int | None = None,
    max_blocked: int = 10_000_000,
    name: str | None = None,
) -> DataFrame:
    """Serve top-k from the table's co-committed index AT a table version
    (default latest) — the whole point of the design: the manifest the
    read resolves names BOTH the bucket data and the shard graphs of one
    consistent commit, so the serve can never rank a row the table
    version doesn't contain (crash-simulation pytest) and time travel
    serves historical versions from their own shards. Deletion vectors
    recorded at or before the version apply as serve-time tombstones.
    Columns: ``(vec_id, score)`` — the ``hnsw_topk`` contract
    (``ef=None`` = exhaustive/exact)."""
    from semantic_index_spark.operators.hnsw import hnsw_topk

    man = VER._read_manifest(table, version)
    if not VER._indexes(man):
        raise ValueError(
            f"table {table} has no co-committed index (attach_hnsw_index)"
        )
    idx = _read_index_shards(
        spark, table, man, _resolve_index(man, name, "hnsw")
    )
    if idx is None:
        return _empty_serve(spark)
    blocked = None
    dv_keys = VER._dv_keys(spark, table, man)
    if dv_keys is not None:
        from semantic_index_spark.session import collect_bounded

        key = man["key_cols"][0]
        rows = collect_bounded(
            dv_keys, max_blocked, "indexed_hnsw_topk DV tombstones"
        )
        blocked = {int(r[key]) for r in rows}
    return hnsw_topk(idx, query, k=k, ef=ef, blocked=blocked)


def _empty_serve(spark: SparkSession, id_type: str = "long") -> DataFrame:
    from pyspark.sql.types import StructType

    return spark.createDataFrame(
        [], StructType.fromDDL(f"vec_id {id_type}, score double")
    )


def _read_index_shards(
    spark: SparkSession, table: str, man: dict, resolved: tuple
):
    """Union ONE index's shard partitions ACROSS owning versions — one
    read per owning version with basePath (recovering the partition
    columns), exactly the grouping ``read_bucketed`` does for buckets.
    ``resolved`` is the ``(name, spec)`` :func:`_resolve_index` picked.
    Every read takes the schema the index's kind writes
    (``hnsw.SHARD_SCHEMA``; ``indexed_np.SHARD_DDL`` with ``vec_id``
    typed as the manifest's key), so no read runs a footer-inference
    job. Returns None when no shard has an owner (empty table)."""
    from pyspark.sql.types import StructType

    from semantic_index_spark.operators.hnsw import SHARD_SCHEMA
    from semantic_index_spark.sources.indexed_np import SHARD_DDL

    iname, spec = resolved
    idx_dir = _idx_dir(iname, spec["params"])
    kind = spec["params"].get("kind", "hnsw")
    if kind == "hnsw":
        schema = SHARD_SCHEMA
    else:
        key = man["key_cols"][0]
        schema = StructType.fromDDL(SHARD_DDL[kind].format(
            key=VER._manifest_schema(man)[key].dataType.simpleString()
        ))
    by_version: dict = {}
    for b, v in spec["shards"].items():
        if v is not None:
            by_version.setdefault(int(v), []).append(int(b))
    parts = []
    for v, bs in sorted(by_version.items()):
        base = os.path.join(VER._version_dir(table, v), idx_dir)
        parts.append(
            spark.read.schema(schema).option("basePath", base).parquet(
                *[os.path.join(base, f"shard={b}") for b in sorted(bs)]
            )
        )
    if not parts:
        return None
    idx = parts[0]
    for extra in parts[1:]:
        idx = idx.unionByName(extra)
    return idx


def _ivf_serve(
    spark: SparkSession, table: str, query, nprobe: int,
    version: "int | None", name: "str | None", kind: str, rank,
    missing: "str | None" = None,
) -> DataFrame:
    """The shared first half of the IVF serves: read the manifest at
    ``version`` and resolve the index once (``missing``, when given, is
    the error for a table with no index of ``kind``), read its shards
    pruned to the ``nprobe`` probed cells at planning time, and the
    version's rows as the ``(vec_id, embedding)`` rescore frame —
    deletion vectors already applied, so a DV-deleted candidate drops at
    the rescore join. Integral keys serve as longs (the historical
    ``vec_id`` contract); string keys ride through as they are (a cast
    to long would null every string doc id). ``rank(params, codes,
    vectors)`` is the serve's second half; a table with no owned shard
    serves the empty frame."""
    from semantic_index_spark.operators.similarity import _probe_cells

    man = VER._read_manifest(table, version)
    if missing and not any(
        s.get("params", {}).get("kind") == kind
        for s in VER._indexes(man).values()
    ):
        raise ValueError(missing)
    resolved = _resolve_index(man, name, kind)
    key = man["key_cols"][0]
    ktype = VER._manifest_fields(man)[key].get("type")
    idx = _read_index_shards(spark, table, man, resolved)
    if idx is None:
        return _empty_serve(spark, "string" if ktype == "string" else "long")
    p = resolved[1]["params"]
    codes = idx.filter(
        F.col("_cell").isin(_probe_cells(query, p["centroids"], nprobe))
    )
    kc = F.col(key)
    if ktype in _INTEGRAL:
        kc = kc.cast("long")
    vectors = VER.read_bucketed(spark, table, version=version).select(
        kc.alias("vec_id"), F.col(p["emb_col"]).alias("embedding")
    )
    return rank(p, codes, vectors)


def indexed_ivfsq_topk(
    spark: SparkSession,
    table: str,
    query,
    k: int = 10,
    nprobe: int = 2,
    candidates: int = 50,
    version: int | None = None,
    name: str | None = None,
) -> DataFrame:
    """Serve top-k from the table's co-committed IVF-SQ8 index AT a table
    version (default latest): the manifest names both the byte-code
    shards and the bucket data of ONE consistent commit, and the frozen
    centroids/quantizer ride the same manifest, so a time-travel serve
    probes and decodes with its version's own artifacts. Two-stage
    probe: (1) planning-time ``_cell`` partition pruning to ``nprobe``
    cells, asymmetric scan of int8 codes only into a bounded
    top-``candidates`` set; (2) exact rescore against THIS VERSION's
    table rows (``read_bucketed``, deletion vectors already applied — a
    DV-deleted candidate drops at the rescore join, the tombstone
    contract; size ``candidates`` with the usual slack). Columns:
    ``(vec_id, score)``, exact-dot scores. Approximation contract =
    ``ivfsq_topk_indexed``'s (exact within probed cells given enough
    candidates; nprobe = n_cells ⇒ exhaustive-exact)."""
    from semantic_index_spark.operators.similarity import sq_topk_rescore

    def rank(p, codes, vectors):
        return sq_topk_rescore(
            codes, vectors, p["model"], query, k=k, candidates=candidates
        )

    return _ivf_serve(
        spark, table, query, nprobe, version, name, "ivfsq", rank,
        missing=f"table {table} has no co-committed IVF-SQ8 index "
        "(attach_ivfsq_index)",
    )
