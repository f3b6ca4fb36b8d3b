"""Sharded HNSW approximate-nearest-neighbor index.

[absent in reference — north-star extension]. The reference's only search
is brute-force exact KNN (`SemanticDatabase.cs:268-308`); this module adds
the one mainstream ANN family the repo did not yet cover (IVF/PQ/SQ8/LSH
live in ``operators/similarity.py``). The design is the standard
distributed-ANN serving shape (Milvus/Vespa segments): the corpus is hash-
sharded, each shard builds an INDEPENDENT small-world graph inside one
``applyInArrow`` task, and a query scatter-gathers — every shard answers
from its own graph in parallel and a bounded global top-k merge
(``TakeOrderedAndProject``) picks the winners. Nothing about a shard's
graph depends on any other shard, so build parallelism, incremental
re-shard, and query fan-out all come for free from Spark's partitioning.

This module owns the shard row format, :data:`SHARD_SCHEMA`: one row per
node. :func:`_graph_rows` is its one writer and :func:`_graph_state` its
one parser. Build, append and the co-committed table shards
(``indexed_np``) are one operation, :func:`_grow`: insert new ids into a
graph that is empty or was read back from disk. Every serve runs one
shard-search task, :func:`_search_task`.

Scale notes (100 TB):
  * build: one graph per shard, each O(n_shard · ef_c · M) — pick
    ``n_shards`` so a shard's vectors + adjacency fit one executor's
    memory (the same sizing rule as IVF ``files_per_cell``). Shards never
    co-reside; ``applyInArrow`` streams one group per task.
  * query: cost is n_shards parallel beam searches of O(ef · M · log n)
    plus a k-row-per-shard merge — per-query latency is flat in corpus
    size at fixed shard size, the property IVF probing cannot offer when
    cells skew.
  * storage: one row per node ``(id, embedding, max_level,
    neighbors[layer][...], shard)`` written ``partitionBy(shard)`` so a
    search scans shards in parallel and a single-shard rebuild rewrites
    one directory.

Determinism contract (what the oracle + tests rely on):
  * shard assignment ``pmod(xxhash64(id), n_shards)`` — engine-stable;
  * node levels derive from a splitmix64 hash of (id, seed), never RNG
    state, so ANY insertion parallelism yields the same levels;
  * insertion order is ascending id; every neighbor choice breaks distance
    ties by ascending id; float work is numpy float64 dots.
  * the base layer additionally carries a chain edge between id-adjacent
    nodes, which makes layer 0 CONNECTED by construction. Exhaustive mode
    (``ef=None``) therefore provably visits every node of every shard and
    returns the exact global top-k — that is the hash-checked registry
    contract; approximate mode (real ``ef``) is recall-tested in pytest
    (`tests/test_new_operators.py`).
"""

from __future__ import annotations

import heapq
import math
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from semantic_index_spark.session import collect_bounded, pin

#: The HNSW shard row format: one row per node, ``neighbors[l]`` its
#: layer-l adjacency. ``shard`` is the partition column of the
#: ``shard=<b>`` layout (a table shard's file leaves it to its directory).
SHARD_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
        StructField("max_level", IntegerType()),
        StructField("neighbors", ArrayType(ArrayType(LongType()))),
        StructField("shard", IntegerType()),
    ]
)


def _splitmix64(x: int) -> int:
    """Deterministic 64-bit mix (public splitmix64 constants) — the level
    source. Hashing the id instead of drawing RNG state keeps levels
    independent of insertion parallelism and engine."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


def _node_level(node_id: int, seed: int, m_l: float) -> int:
    h = _splitmix64((node_id << 1) ^ _splitmix64(seed))
    # map to (0, 1]; 0 is excluded so log() is finite
    u = (h + 1) / 18446744073709551617.0
    return int(-math.log(u) * m_l)


def _search_layer(q, entry, ef, adj, vecs, visited=None):
    """Beam search one layer: returns up to ``ef`` (dist, id) pairs,
    nearest first. ``dist`` = -dot (higher dot = nearer); ties break on
    ascending id everywhere."""
    import numpy as np

    if visited is None:
        visited = set()
    cand = []  # min-heap by (dist, id): best candidate first
    result = []  # max-heap by (-dist, -id): worst kept result first
    for e in entry:
        if e in visited:
            continue
        visited.add(e)
        d = -float(np.dot(q, vecs[e]))
        heapq.heappush(cand, (d, e))
        heapq.heappush(result, (-d, -e))
        if len(result) > ef:
            heapq.heappop(result)
    while cand:
        d, c = heapq.heappop(cand)
        if len(result) >= ef and d > -result[0][0]:
            break
        for nb in adj.get(c, ()):
            if nb in visited:
                continue
            visited.add(nb)
            dn = -float(np.dot(q, vecs[nb]))
            if len(result) < ef or dn < -result[0][0] or (
                dn == -result[0][0] and nb < -result[0][1]
            ):
                heapq.heappush(cand, (dn, nb))
                heapq.heappush(result, (-dn, -nb))
                if len(result) > ef:
                    heapq.heappop(result)
    return sorted(((-nd, -ni) for nd, ni in result))


def _insert_nodes(adj, levels, vecs, new_ids, m, ef_construction):
    """Insert ``new_ids`` (ascending) into an existing graph state with the
    standard HNSW procedure. ``adj`` is a list of per-layer {id: [nbr]}
    dicts mutated in place; the entry point is derived from ``levels``
    (max level, min id — exactly the node a from-scratch ascending-id
    build would have promoted last, so resuming from stored state replays
    the identical insertion sequence)."""
    import numpy as np

    def _link(layer, a, b, cap):
        lst = adj[layer].setdefault(a, [])
        if b in lst:
            return
        lst.append(b)
        if len(lst) > cap:
            # keep the ``cap`` nearest by (dist, id)
            va = vecs[a]
            lst.sort(key=lambda x: (-float(np.dot(va, vecs[x])), x))
            del lst[cap:]

    newset = {int(i) for i in new_ids}
    existing = [i for i in levels if i not in newset]
    if existing:
        entry_level = max(levels[i] for i in existing)
        entry_id = min(i for i in existing if levels[i] == entry_level)
    else:
        entry_id, entry_level = None, -1

    for nid in new_ids:
        nid = int(nid)
        lvl = levels[nid]
        while len(adj) <= lvl:
            adj.append({})
        if entry_id is None:
            adj[0].setdefault(nid, [])
            entry_id, entry_level = nid, lvl
            continue
        q = vecs[nid]
        ep = [entry_id]
        for layer in range(entry_level, lvl, -1):
            if layer >= len(adj):
                continue
            near = _search_layer(q, ep, 1, adj[layer], vecs)
            if near:
                ep = [near[0][1]]
        for layer in range(min(lvl, entry_level), -1, -1):
            cands = _search_layer(q, ep, ef_construction, adj[layer], vecs)
            cap = m if layer > 0 else 2 * m
            chosen = [c for _, c in cands[:m]]
            adj[layer].setdefault(nid, [])
            for c in chosen:
                _link(layer, nid, c, cap)
                _link(layer, c, nid, cap)
            ep = [c for _, c in cands] or ep
        if lvl > entry_level:
            entry_id, entry_level = nid, lvl


def _chain_layer0(adj0, ids):
    """Connectivity guarantee at SEARCH time: chain id-adjacent nodes at
    layer 0 so the base layer is ONE component — exhaustive search is
    then provably exact. Never persisted (so appends replay rebuild state
    exactly); O(n) to apply on load."""
    sorted_ids = sorted(int(i) for i in ids)
    for a, b in zip(sorted_ids, sorted_ids[1:]):
        la = adj0.setdefault(a, [])
        lb = adj0.setdefault(b, [])
        if b not in la:
            la.append(b)
        if a not in lb:
            lb.append(a)


def _graph_rows(vecs, levels, adj, shard=None):
    """Graph state → its :data:`SHARD_SCHEMA` Arrow rows, ascending id:
    the one writer of the format. The stored graph is PURE HNSW adjacency
    (the layer-0 chain is applied at search time, see
    :func:`_chain_layer0`), so an append resumes from exactly the state a
    from-scratch build had. ``shard=None`` leaves the partition column
    off."""
    import pyarrow as pa

    ids = sorted(vecs)
    cols = {
        "id": pa.array(ids, pa.int64()),
        "embedding": pa.array([vecs[i] for i in ids], pa.list_(pa.float64())),
        "max_level": pa.array([levels[i] for i in ids], pa.int32()),
        "neighbors": pa.array(
            [[adj[layer].get(i, []) for layer in range(levels[i] + 1)] for i in ids],
            pa.list_(pa.list_(pa.int64())),
        ),
    }
    if shard is not None:
        cols["shard"] = pa.array([shard] * len(ids), pa.int32())
    return pa.table(cols)


def _graph_state(tbl):
    """:data:`SHARD_SCHEMA` Arrow rows → graph state ``(vecs, levels,
    adj)``: ``{id: vector}``, ``{id: level}`` and one ``{id: [nbr]}`` dict
    per layer. The one parser of the format."""
    from semantic_index_spark.sources.indexed_np import _emb_matrix

    ids = tbl.column("id").to_pylist()
    vecs = dict(zip(ids, _emb_matrix(tbl.column("embedding"))))
    levels = dict(zip(ids, tbl.column("max_level").to_pylist()))
    adj: list[dict] = [{}]
    for node, layers in zip(ids, tbl.column("neighbors").to_pylist()):
        for layer, lst in enumerate(layers):
            while len(adj) <= layer:
                adj.append({})
            adj[layer][node] = lst
    return vecs, levels, adj


def _grow(old, ids, mat, m, ef_construction, seed, shard=None):
    """Insert ``ids`` (Arrow column; vectors the rows of ``mat``) into the
    graph whose rows are ``old`` (None: an empty graph) in ascending-id
    order, and return the grown graph's rows (:func:`_graph_rows`). Build,
    append and every co-committed table shard run this one operation; the
    entry point derives from the levels, so resuming from stored rows
    replays the insertion sequence a from-scratch build would have run.
    An id already in the graph, or given twice, is an error."""
    if old is not None and old.num_rows:
        vecs, levels, adj = _graph_state(old)
    else:
        vecs, levels, adj = {}, {}, [{}]
    new_ids = ids.to_pylist()
    dup = set(vecs) & set(new_ids)
    if dup or len(new_ids) != len(set(new_ids)):
        raise ValueError(
            f"duplicate ids in HNSW shard {shard}: {sorted(dup)[:5]}"
        )
    m_l = 1.0 / math.log(m)
    vecs.update(zip(new_ids, mat))
    levels.update((i, _node_level(i, seed, m_l)) for i in new_ids)
    _insert_nodes(adj, levels, vecs, sorted(new_ids), m, ef_construction)
    return _graph_rows(vecs, levels, adj, shard)


def _grow_task(m, ef_construction, seed):
    """The ``groupBy("shard").applyInArrow`` body of build and append: a
    shard's stored rows plus its new ones (null ``max_level``) in, the
    grown graph's :data:`SHARD_SCHEMA` rows out."""

    def grow(tbl):
        import pyarrow.compute as pc

        from semantic_index_spark.sources.indexed_np import _emb_matrix

        new = pc.is_null(tbl.column("max_level"))
        fresh = tbl.filter(new)
        return _grow(
            tbl.filter(pc.invert(new)),
            fresh.column("id"),
            _emb_matrix(fresh.column("embedding")),
            m, ef_construction, seed,
            shard=tbl.column("shard")[0].as_py(),
        )

    return grow


def _new_rows(df: DataFrame, id_col: str, emb_col: str, n_shards: int) -> DataFrame:
    """``df``'s vectors as :data:`SHARD_SCHEMA` rows not yet in a graph
    (null ``max_level``), each in its hash shard."""
    return df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(emb_col).cast("array<double>").alias("embedding"),
        F.lit(None).cast("int").alias("max_level"),
        F.lit(None).cast("array<array<long>>").alias("neighbors"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards)).cast("int").alias("shard"),
    )


def _read_layout(spark: SparkSession, path: str) -> DataFrame:
    """A persisted layout's rows, read with the format's schema (no
    footer-inference job)."""
    return spark.read.schema(SHARD_SCHEMA).parquet(path)


def build_hnsw(
    df: DataFrame,
    n_shards: int = 4,
    m: int = 8,
    ef_construction: int = 64,
    seed: int = 7,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Build the sharded index: one independent HNSW graph per hash shard,
    each grown from empty inside a single ``applyInArrow`` task. Output
    schema: :data:`SHARD_SCHEMA`, ``(id, embedding, max_level, neighbors
    array<array<long>>, shard)`` with ``neighbors[l]`` the layer-l
    adjacency of the node."""
    return _new_rows(df, id_col, emb_col, n_shards).groupBy("shard").applyInArrow(
        _grow_task(m, ef_construction, seed), SHARD_SCHEMA
    )


def _meta_path(path: str) -> str:
    import os

    return os.path.join(path, "_hnsw_meta.json")


def _write_meta(path: str, meta: dict) -> None:
    """Atomically (re)write the layout's meta file."""
    import json
    import os

    tmp = _meta_path(path) + ".__tmp__"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, _meta_path(path))


def _write_hnsw_unlocked(
    index: DataFrame,
    path: str,
    n_shards: int,
    m: int,
    ef_construction: int,
    seed: int,
    applied_epochs: "list[int] | None" = None,
) -> None:
    # meta is written ONCE, LAST, with the replay ledger already merged:
    # recover_hnsw_layout treats meta presence as "layout complete", so a
    # two-step meta write would open a crash window where recovery installs
    # a layout missing the ledger and a replayed epoch double-applies
    # (round 12)
    index.write.mode("overwrite").partitionBy("shard").parquet(path)
    meta = {
        "n_shards": int(n_shards),
        "m": int(m),
        "ef_construction": int(ef_construction),
        "seed": int(seed),
    }
    if applied_epochs:
        meta["applied_epochs"] = [int(e) for e in applied_epochs]
    _write_meta(path, meta)


def write_hnsw_index(
    index: DataFrame,
    path: str,
    n_shards: int = 4,
    m: int = 8,
    ef_construction: int = 64,
    seed: int = 7,
) -> None:
    """Persist ``partitionBy(shard)`` — a query scans all shard directories
    in parallel; a single-shard rebuild rewrites exactly one directory.
    The build parameters land in ``_hnsw_meta.json`` next to the data:
    they are FROZEN artifacts of the layout (an append under different
    (m, ef_construction, seed) would silently build a different graph),
    the same frozen-artifact contract as the IVF layouts' centroids.
    All layout mutators (this base build, append, delete, compact) take
    the layout's sibling commit lock (``locking.index_lock``), so a base
    rebuild never races an in-flight append."""
    from semantic_index_spark.locking import index_lock

    with index_lock(path):
        _write_hnsw_unlocked(index, path, n_shards, m, ef_construction, seed)


def append_hnsw_index(
    new_df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    epoch_id: int | None = None,
) -> None:
    """Incremental HNSW maintenance — the graph twin of the IVF family's
    ``append_*`` operators: route the NEW ingest batch to its hash shards,
    read back ONLY those shards' graphs (planning-time partition pruning),
    resume the standard insertion procedure inside each (the stored graph
    is pure adjacency and the entry point is derivable, so insertion
    continues from exactly the state a from-scratch build had — build and
    append are the same :func:`_grow` task), and
    rewrite just the affected shard directories with DYNAMIC partition
    overwrite — untouched shards' files are never listed, read, or
    replaced. Because a build inserts in ascending-id order, appending a
    batch whose ids all EXCEED the existing ids is row-identical to a
    from-scratch rebuild of the union (pytest-asserted); interleaved ids
    still produce a valid deterministic graph, just not the rebuild's
    (standard HNSW insertion-order sensitivity — documented AND
    measured: on a 400x16 gaussian corpus with a fully interleaved
    even/odd split at m=8, ef=64, both the append graph and the rebuild
    measure recall@10 = 1.000 against exact brute force; the pytest
    contract floor is 0.95 — see
    ``test_hnsw_interleaved_append_recall_vs_rebuild``).
    Build parameters come from the layout's frozen ``_hnsw_meta.json``;
    duplicate ids are an error, not a silent double-insert. CONCURRENT
    appenders SERIALIZE on the layout's sibling commit lock
    (``locking.index_lock``, round 11): the graph is STATEFUL, so the
    whole read-modify-write — meta read, shard read-back, insertion,
    rewrite, ledger update — runs under the lock and the second appender
    resumes from the state the first committed; interleaved shard
    rewrites (each losing the other's nodes) cannot happen, and a stuck
    holder surfaces as ``TimeoutError`` rather than silent corruption.
    For streaming exactly-once, pass ``epoch_id``: applied epochs are
    recorded in the meta file and a re-delivered epoch is SKIPPED — the
    replay ledger that replaces partition idempotency for stateful
    structures (see :func:`incremental_hnsw_sink` in streaming.ingest)."""
    from semantic_index_spark.locking import index_lock

    with index_lock(path):
        _append_hnsw_locked(new_df, path, id_col, emb_col, epoch_id)


def _append_hnsw_locked(new_df, path, id_col, emb_col, epoch_id):
    import json

    with open(_meta_path(path)) as f:
        meta = json.load(f)
    if epoch_id is not None and epoch_id in meta.get("applied_epochs", []):
        return  # replayed micro-batch: already folded into the graph
    fresh = _new_rows(new_df, id_col, emb_col, meta["n_shards"])
    affected = sorted(r["shard"] for r in fresh.select("shard").distinct().collect())
    if not affected:
        return
    existing = _read_layout(new_df.sparkSession, path).filter(
        F.col("shard").isin(affected)
    )
    rebuilt = existing.unionByName(fresh).groupBy("shard").applyInArrow(
        _grow_task(meta["m"], meta["ef_construction"], meta["seed"]), SHARD_SCHEMA
    )
    (
        rebuilt.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("shard")
        .parquet(path)
    )
    if epoch_id is not None:
        # record AFTER the data lands: a crash in between re-applies the
        # epoch on replay, which the duplicate-id check turns into a loud
        # error rather than a silent double-insert
        meta.setdefault("applied_epochs", []).append(int(epoch_id))
        _write_meta(path, meta)


def _query_shard(vecs, adj_by_layer, ep0, top, q, k, ef, allowed=None, blocked=None):
    """Answer one query against loaded shard state; returns [(id, score)]
    of the per-shard top-k (exact scores, HALF_UP-rounded to 6).
    ``allowed`` (a set) restricts which nodes may RANK — the traversal
    still walks the full graph (disallowed nodes remain routing waypoints;
    deleting them would sever small-world paths, the classic filtered-ANN
    failure), it just never emits them."""
    # ef=None → exhaustive: beam width = shard size never prunes, and the
    # base layer is connected by the builder's chain edges, so the
    # traversal provably visits EVERY node — exact result via the same
    # pointer-chasing code path the approximate mode uses.
    beam = len(vecs) if ef is None else max(ef, k)
    ep = [ep0]
    for layer in range(top, 0, -1):
        near = _search_layer(q, ep, 1, adj_by_layer[layer], vecs)
        if near:
            ep = [near[0][1]]
    scored = _search_layer(q, ep, beam, adj_by_layer[0], vecs)
    if ef is None and len(scored) != len(vecs):  # pragma: no cover
        raise AssertionError(
            f"exhaustive HNSW traversal visited {len(scored)}/{len(vecs)} "
            "nodes — base layer not connected (corrupt index?)"
        )
    if allowed is not None:
        scored = [(d, i) for d, i in scored if i in allowed]
    if blocked:
        # serve-time tombstones (deleted ids): same waypoint contract as
        # ``allowed`` — the node still routes, it just never ranks
        scored = [(d, i) for d, i in scored if i not in blocked]
    out = []
    for d, i in scored[:k]:
        s = -d
        out.append((i, math.copysign(math.floor(abs(s) * 1e6 + 0.5) / 1e6, s)))
    return out


def _shipped(sc, value, broadcast: bool):
    """A getter for ``value`` on the executors: through a broadcast (one
    copy per executor) or in the task closure."""
    if broadcast:
        b = sc.broadcast(value)
        return lambda: b.value
    return lambda: value


def _search_task(
    index: DataFrame,
    panel: list,
    k: int,
    ef: "int | None",
    allowed: "set | None" = None,
    blocked: "set | None" = None,
    q_field: StructField = StructField("q_id", IntegerType()),
) -> DataFrame:
    """The one shard-search task behind every serve: a
    ``groupBy("shard").applyInArrow`` that loads each shard's graph once
    (:func:`_graph_state` plus the layer-0 chain) and answers every
    ``(q_id, vector)`` of ``panel`` from it. Only ``allowed`` ids rank
    (when given) and ``blocked`` ids never do; both stay routing
    waypoints. Returns each shard's top-k per query as ``(q_field,
    vec_id, score)``. One query rides the task closure; a panel of
    several, and the id sets, ship as broadcasts."""
    from pyspark.sql.pandas.types import to_arrow_schema

    sc = index.sparkSession.sparkContext
    queries = _shipped(sc, panel, len(panel) > 1)
    ok = _shipped(sc, allowed, allowed is not None)
    no = _shipped(sc, blocked, bool(blocked))
    schema = StructType(
        [q_field, StructField("vec_id", LongType()), StructField("score", DoubleType())]
    )
    arrow_schema = to_arrow_schema(schema)

    def search(tbl):
        import numpy as np
        import pyarrow as pa

        vecs, levels, adj = _graph_state(tbl)
        _chain_layer0(adj[0], vecs)
        # entry point: max level, then min id — derivable, not stored
        top = min(max(levels.values()), len(adj) - 1)
        ep = min(i for i, lv in levels.items() if lv >= top)
        allowed_ids, blocked_ids = ok(), no()
        out = ([], [], [])
        for qid, qv in queries():
            q = np.asarray(qv, dtype=np.float64)
            for i, s in _query_shard(
                vecs, adj, ep, top, q, k, ef, allowed_ids, blocked_ids
            ):
                out[0].append(qid)
                out[1].append(i)
                out[2].append(s)
        return pa.Table.from_pydict(dict(zip(arrow_schema.names, out)), arrow_schema)

    return index.groupBy("shard").applyInArrow(search, schema)


def hnsw_topk(
    index: DataFrame,
    query: Sequence[float],
    k: int = 10,
    ef: int | None = 64,
    blocked: "set[int] | None" = None,
) -> DataFrame:
    """Scatter-gather search: each shard beam-searches its own graph
    (``ef=None`` → exhaustive/exact), emits its local top-k with EXACT
    dot scores, and a global ``orderBy(score desc, id).limit(k)`` merge
    (``TakeOrderedAndProject`` over n_shards·k rows) picks the answer.
    Columns: ``(vec_id, score)`` — same contract as ``similarity.topk``."""
    per_shard = _search_task(
        index, [(0, [float(x) for x in query])], k, ef, blocked=blocked
    )
    return per_shard.select("vec_id", "score").orderBy(
        F.desc("score"), F.asc("vec_id")
    ).limit(k)


def _tombstone_dir(path: str) -> str:
    import os

    # the `_` prefix keeps the dir invisible to the main parquet read
    return os.path.join(path, "_deleted")


def _read_tombstone_ids(spark: SparkSession, path: str) -> "DataFrame | None":
    """The layout's ``_deleted/`` ids, read under the type
    :func:`delete_from_hnsw_index` writes (no footer-inference job), or
    None when nothing was ever deleted."""
    import os

    d = _tombstone_dir(path)
    return spark.read.schema("id long").parquet(d) if os.path.isdir(d) else None


def read_tombstones(spark: SparkSession, path: str, max_ids: int = 10_000_000) -> set:
    """The layout's deleted-id set (empty if none were ever deleted)."""
    dead = _read_tombstone_ids(spark, path)
    if dead is None:
        return set()
    rows = collect_bounded(dead.distinct(), max_ids, "hnsw tombstones")
    return {int(r["id"]) for r in rows}


def delete_from_hnsw_index(keys: DataFrame, path: str, id_col: str = "vec_id") -> None:
    """Row-level DELETE on the graph layout — the deletion-vector trade
    applied to ANN (the write-fast half): the deleted ids land as tiny
    parquet files under ``_deleted/`` (append mode, O(delete keys) IO,
    NO shard graph is touched), and every ``*_indexed`` serve applies
    them as serve-time tombstones — deleted nodes keep ROUTING (carving
    them out of the graph would sever small-world paths, the same
    waypoint contract as filtered search), they just never rank.
    :func:`compact_hnsw_index` is the maintenance half that folds
    tombstones into a rebuild. Re-inserting a deleted id without
    compacting first fails the append's duplicate-id check — compact to
    make the id insertable again. Takes the layout commit lock so a
    delete never lands in a directory a concurrent compaction is about
    to swap aside (the tombstone would silently vanish)."""
    from semantic_index_spark.locking import index_lock

    with index_lock(path):
        (
            keys.select(F.col(id_col).cast("long").alias("id"))
            .distinct()
            .write.mode("append")
            .parquet(_tombstone_dir(path))
        )


def compact_hnsw_index(spark: SparkSession, path: str) -> int:
    """OPTIMIZE for the graph layout: rebuild every shard from the LIVE
    nodes only (under the layout's frozen build params) and clear the
    tombstones — serve results are identical before and after (pytest),
    but the compacted graph stops paying traversal work for dead nodes.
    Returns the number of distinct tombstoned ids folded. Full rebuild
    by design: removing nodes in place would re-link every neighbor list
    and lose the append==rebuild determinism contract.

    Dead ids are removed with an ANTI-JOIN against the tombstone
    DataFrame — never an ``isin(list)`` literal, which at the 10M-id
    tombstone cap would blow up the optimizer's expression tree long
    before the data became a problem (round 11; the tombstone set is
    data, so it joins as data).

    Crash contract (round 11): the compacted layout is fully written to
    a sibling temp directory FIRST, then swapped in by two renames (old
    aside, new into place) through ``locking._swap_in`` — a crash at any
    point leaves a complete layout on disk, which
    :func:`recover_hnsw_layout` puts back at ``path``. The old
    ``rmtree-then-rebuild-in-place`` shape could lose the index
    forever. Runs under the layout commit lock, serializing against
    appends and deletes."""
    import json

    from semantic_index_spark.locking import _swap_in, index_lock

    with index_lock(path):
        dead = _read_tombstone_ids(spark, path)
        if dead is None:
            return 0
        # lazy pin + count (r14): count() materializes every partition of
        # the pinned distinct-tombstone set in the SAME job, so the fold
        # count and the anti-join below still read one frozen set — one
        # action instead of checkpoint-then-count
        dead = dead.distinct().transform(pin, "compact_hnsw_index: dead")
        n_dead = dead.count()
        if not n_dead:
            return 0
        with open(_meta_path(path)) as f:
            meta = json.load(f)
        # lazy: the rebuild's write is the only consumer — the pin still
        # freezes the live set (it reads the pinned `dead`), it just
        # materializes inside the write action instead of its own job
        live = (
            _read_layout(spark, path)
            .join(dead, "id", "left_anti")
            .select(F.col("id").alias("vec_id"), "embedding")
            .transform(pin, "compact_hnsw_index: live")
        )
        params = {k: meta[k] for k in ("n_shards", "m", "ef_construction", "seed")}
        rebuilt = build_hnsw(live, **params)
        # applied epochs describe batches folded into the PRE-compaction
        # graph; they remain true history (replays must still skip), and
        # they ride tmp's SINGLE meta write so meta presence always means
        # a fully complete layout — recovery can never install tmp with
        # the ledger missing (round 12, closes the r11 crash window).
        # Tombstones swap aside with the old layout.
        _swap_in(
            path,
            "compact",
            lambda tmp: _write_hnsw_unlocked(
                rebuilt, tmp, **params, applied_epochs=meta.get("applied_epochs")
            ),
        )
        return n_dead


def recover_hnsw_layout(path: str) -> str:
    """Repair a layout after a crash inside :func:`compact_hnsw_index`'s
    swap window — the operational verb completing that function's crash
    contract (a crash always leaves a complete layout on disk; this puts
    it back at ``path``). States, checked under the layout commit lock
    by ``locking._recover_swap``:

      * ``path`` exists → the swap either never started or completed;
        leftover tmp/old siblings are debris from a pre-swap crash and
        are removed. Returns ``"ok"``.
      * ``path`` missing, tmp COMPLETE (its meta file exists — the base
        writer writes meta last, so meta presence marks completeness) →
        the crash hit between the two renames; the compaction had fully
        built the new layout, so finish the swap: tmp renames to
        ``path``, the old layout (whose tombstones the compaction was
        folding) is dropped. Returns ``"recovered-new"``.
      * ``path`` missing, only the old layout present → the crash hit
        after old moved aside but before the (never-completed) new
        layout landed; the old layout renames back, tombstones intact —
        re-run the compaction. Returns ``"recovered-old"``.

    Raises if no complete layout can be found (true data loss — never
    produced by the compaction protocol)."""
    import os

    from semantic_index_spark.locking import _recover_swap

    def complete(d):
        return os.path.exists(_meta_path(d))

    return _recover_swap(path, "compact", "HNSW", complete, complete)


def hnsw_topk_indexed(
    spark: SparkSession,
    path: str,
    query: Sequence[float],
    k: int = 10,
    ef: int | None = 64,
) -> DataFrame:
    """Search a persisted :func:`write_hnsw_index` layout, applying any
    deletion tombstones the layout carries."""
    return hnsw_topk(
        _read_layout(spark, path),
        query,
        k=k,
        ef=ef,
        blocked=read_tombstones(spark, path),
    )


def hnsw_topk_filtered(
    index: DataFrame,
    allowed: DataFrame,
    query: Sequence[float],
    k: int = 10,
    ef: int | None = 64,
    id_col: str = "vec_id",
    max_allowed: int = 1_000_000,
) -> DataFrame:
    """Metadata-FILTERED HNSW search — the query production vector systems
    struggle with: ``allowed`` is the id set surviving the attribute
    predicate (computed by any relational plan — pushed-down scan, join,
    whatever). The graph traversal still walks ALL nodes — disallowed
    nodes keep serving as routing waypoints, because carving them out of
    the graph severs the small-world paths that make HNSW work (the
    classic filtered-ANN failure mode: low-selectivity filters strand the
    beam) — but only allowed nodes may rank. With a real beam, raise
    ``ef`` as the filter gets more selective (the candidate pool thins);
    with ``ef=None`` the exhaustive traversal makes the result EXACTLY
    the brute-force filtered top-k (the registry's hash-checked
    contract). The allowed set broadcasts as a plain Python set — ids,
    not vectors, so even 10^6 survivors are a few MB."""
    rows = collect_bounded(
        allowed.select(id_col).distinct(), max_allowed, "hnsw_topk_filtered allowed set"
    )
    allowed_set = {int(r[id_col]) for r in rows}
    if not allowed_set:
        return index.sparkSession.createDataFrame([], "vec_id long, score double")
    per_shard = _search_task(
        index, [(0, [float(x) for x in query])], k, ef, allowed=allowed_set
    )
    return per_shard.select("vec_id", "score").orderBy(
        F.desc("score"), F.asc("vec_id")
    ).limit(k)


def hnsw_topk_multi(
    index: DataFrame,
    queries: DataFrame,
    k: int = 10,
    ef: int | None = 64,
    q_id_col: str = "q_id",
    q_emb_col: str = "q_embedding",
    max_queries: int = 100_000,
) -> DataFrame:
    """Batched scatter-gather — the HNSW twin of ``similarity.topk_multi``:
    the Q-row query panel ships ONCE per executor via
    ``SparkContext.broadcast`` and every shard answers ALL queries from a
    single graph load (the adjacency reconstruction — the expensive part
    of a shard visit — amortizes across the whole panel instead of
    repeating per query). Only the ≤ n_shards·Q·k per-shard winners ever
    shuffle; a window over them ranks per query. Columns:
    ``(q_id, vec_id, score, rank)``."""
    q_rows = collect_bounded(
        queries.select(q_id_col, q_emb_col), max_queries, "hnsw_topk_multi query set"
    )
    q_field = StructField(q_id_col, queries.schema[q_id_col].dataType)
    if not q_rows:
        empty = index.sparkSession.createDataFrame(
            [], StructType([q_field]).add("vec_id", LongType()).add("score", DoubleType())
        )
        return empty.withColumn("rank", F.lit(1).cast("int")).limit(0)
    panel = [(r[q_id_col], [float(x) for x in r[q_emb_col]]) for r in q_rows]
    per_shard = _search_task(index, panel, k, ef, q_field=q_field)
    w = Window.partitionBy(q_id_col).orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        per_shard.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(q_id_col, "rank")
    )


def hnsw_maintenance_status(
    spark: SparkSession, path: str, compact_threshold: float = 0.2
) -> dict:
    """VACUUM-style DRY-RUN advisor for a persisted HNSW layout — the
    graph twin of the versioned store's :func:`vacuum_report` (round 12,
    completing the create/append/delete/compact/recover lifecycle with an
    inspection verb): report what :func:`compact_hnsw_index` WOULD do
    without mutating anything. Returns ``{n_nodes, n_tombstones,
    tombstone_ratio, n_shards, n_applied_epochs, recommend_compact}`` —
    ``n_nodes`` counts graph nodes INCLUDING tombstoned ones (they still
    pay traversal cost, which is exactly why the ratio is the compaction
    signal), ``n_tombstones`` the distinct dead ids that a compaction
    would fold. All counts are distributed aggregates (only scalars reach
    the driver); reads take no lock — advice may race a concurrent
    mutator by design, the same as any monitoring read."""
    import json

    with open(_meta_path(path)) as f:
        meta = json.load(f)
    # both counts ride ONE action (r14, guide §1.2): a crossJoin of the
    # two 1-row aggregates collects (n_nodes, n_tombstones) in a single
    # job instead of two sequential cluster round-trips per status probe
    nodes_agg = _read_layout(spark, path).agg(F.count("*").alias("_n"))
    dead = _read_tombstone_ids(spark, path)
    if dead is not None:
        tomb_agg = dead.agg(F.count_distinct("id").alias("_t"))
        row = nodes_agg.crossJoin(tomb_agg).collect()[0]
        n_nodes, n_tomb = int(row["_n"]), int(row["_t"])
    else:
        n_nodes, n_tomb = int(nodes_agg.collect()[0]["_n"]), 0
    ratio = n_tomb / max(n_nodes, 1)
    return {
        "n_nodes": int(n_nodes),
        "n_tombstones": int(n_tomb),
        "tombstone_ratio": float(ratio),
        "n_shards": int(meta["n_shards"]),
        "n_applied_epochs": len(meta.get("applied_epochs", [])),
        "recommend_compact": bool(n_tomb and ratio >= compact_threshold),
    }
