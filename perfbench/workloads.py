"""The closed-loop workloads: set-up, timed loop and per-op checks.

One client thread drives the package's public functions and sends its next
operation only after the previous one returned. Each workload builds its
inputs with ``gen`` before anything is timed, runs an interleaving of
operation kinds for the requested seconds (always finishing at least one of
every kind), checks every result against NumPy truth or a
dict model, and reports latencies per operation kind.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback

import numpy as np

import gen
from spans import dir_files

K = 10
TOL = 1e-6
GRACE_S = 60.0


class OpFailed(Exception):
    """A check on an operation's output did not hold."""


def require(ok: bool, what: str) -> None:
    if not ok:
        raise OpFailed(what)


def check_topk(rows, truth_scores: np.ndarray, k: int = K, exact: bool = True) -> float:
    """Check ``rows`` of (id, score) against exact scores over the searched
    rows and return recall@k. Exact serves must be a top-k up to ties at the
    6-decimal rounding; approximate serves must return real rows with their
    exact scores, in order."""
    ids = [int(r[0]) for r in rows]
    got = [float(r[1]) for r in rows]
    require(len(set(ids)) == len(ids), "duplicate ids in result")
    require(all(0 <= i < len(truth_scores) for i in ids), "unknown id in result")
    require(all(a >= b - TOL for a, b in zip(got, got[1:])), "scores not descending")
    for i, s in zip(ids, got):
        require(abs(truth_scores[i] - s) <= 1e-5, f"score of id {i} is {s}, exact {truth_scores[i]:.6f}")
    kth = np.partition(truth_scores, -k)[-k]
    if exact:
        require(len(ids) == k, f"{len(ids)} rows, expected {k}")
        require(all(truth_scores[i] >= kth - TOL for i in ids), "row outside the exact top-k")
    return sum(truth_scores[i] >= kth - TOL for i in ids) / k


def summarize(values: list[float]) -> float:
    return float(statistics.median(values)) if values else float("nan")


def tail(values: list[float]) -> tuple:
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value); (None, None) below eleven samples."""
    n = len(values)
    if n < 11:
        return None, None
    v = sorted(values)
    return round(100.0 * (n - 10) / n, 1), v[n - 11]


class Workload:
    """Shared loop, failure accounting and reporting."""

    name = ""
    kinds: tuple = ()
    # operations run untimed before the loop starts
    warm_first: tuple = ()
    # kinds timed from their first run: their first-call costs are paid on
    # every real run (a batch job runs once per session)
    cold_kinds: tuple = ()

    def __init__(self, spark, tracer, seed: int, work_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work = work_dir
        self.lat: dict[str, list[float]] = {k: [] for k in self.kinds}
        self.items: dict[str, int] = {k: 0 for k in self.kinds}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._warm: set[str] = set()
        self._recording = False

    # subclasses: generate(), setup(), schedule(rng), op_<kind>(), detail()

    def run_op(self, kind: str, warm: bool = False) -> None:
        """Run and check one operation. Warm-up runs, and the first run of
        a kind that was not warmed up, pay first-call costs (code
        generation, JIT, Python workers): they are checked like every other
        run but neither timed nor traced."""
        self.attempted += 1
        self._recording = not warm and (kind in self._warm or kind in self.cold_kinds)
        self._warm.add(kind)
        try:
            with self.tracer.suspended(not self._recording), self.tracer.op(kind):
                check = getattr(self, "op_" + kind)()
            # check() runs after the op's latency was recorded
            if check is not None:
                check()
        except Exception as e:  # noqa: BLE001 — every op failure is counted, the loop goes on
            self.failed += 1
            msg = f"{kind}: {type(e).__name__}: {e}"
            if not isinstance(e, OpFailed):
                msg += "\n" + traceback.format_exc(limit=4)
            self.failures.append(msg)

    def timed(self, kind: str, fn, items: int = 1):
        t = time.perf_counter()
        out = fn()
        if self._recording:
            self.lat[kind].append((time.perf_counter() - t) * 1e3)
            self.items[kind] += items
        return out

    def warmup(self) -> None:
        for kind in self.warm_first:
            self.run_op(kind, warm=True)

    def loop(self, seconds: float) -> None:
        """Closed loop for ``seconds``, then on until every kind has a timed
        sample, but never past GRACE_S more (a kind whose every run fails
        has none)."""
        rng = np.random.default_rng([self.seed, 99])
        deadline = time.perf_counter() + seconds
        for kind in self.schedule(rng):
            now = time.perf_counter()
            if now >= deadline and (all(self.lat[k] for k in self.kinds)
                                    or now >= deadline + GRACE_S):
                break
            self.run_op(kind)

    def cycles(self, rng, cycle: list[str]):
        """Endless seeded interleaving: each cycle is one shuffled round of
        ``cycle``."""
        while True:
            yield from (cycle[i] for i in rng.permutation(len(cycle)))

    def round_ms(self) -> float:
        return float(sum(summarize(v) for v in self.lat.values()))

    def op_geomean_ms(self) -> float:
        """Geometric mean over the operation kinds of each kind's median
        latency: every kind weighs the same, however long it runs."""
        return float(np.exp(np.mean([np.log(summarize(v)) for v in self.lat.values()])))

    def items_per_s(self) -> float:
        busy = sum(sum(v) for v in self.lat.values()) / 1e3
        return sum(self.items.values()) / busy

    def finalize(self) -> None:
        """Checks on the end state, outside the timed loop."""

    def persisted_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()


# --------------------------------------------------------------- index_ingest


class IndexIngest(Workload):
    """Writes beside reads on a small bucketed table carrying all three
    index kinds: 16-row upserts, 16-key deletes and the reference's
    AddRange+Save, each followed by one fresh read through an index."""

    name = "index_ingest"
    kinds = ("merge", "delete", "add_range_save", "read_hnsw", "read_ivfsq", "read_ivfpq")
    WRITES = ("merge", "delete", "add_range_save")
    READS = ("read_hnsw", "read_ivfsq", "read_ivfpq")
    warm_first = WRITES + READS
    ROW_BYTES = 8 + 4 * gen.DIM

    def generate(self) -> None:
        self.model = gen.IngestModel(self.seed)
        self.table_input = os.path.join(self.work, "table_input")
        ids, vecs = self.model.initial_rows()
        gen.write_parquet(self.table_input, {"id": ids, "embedding": vecs})
        self.table = os.path.join(self.work, "table")
        self.store_path = os.path.join(self.work, "store")
        self.store_input = os.path.join(self.work, "store_input")
        _write_store(self.store_input, self.model.store_items)
        self.recall: list[float] = []
        self.read_query = None  # (vector, id that must rank first or None)

    def setup(self) -> None:
        from semantic_index_spark import DeterministicEmbedder, DuplicateHandling, SemanticIndex
        from semantic_index_spark.sources import versioned as VER

        tr = self.tracer
        rows = self.spark.read.parquet(self.table_input)
        tr.call("sources.versioned.create_bucketed", lambda: VER.create_bucketed(
            rows, self.table, ["id"], n_buckets=gen.INGEST_TABLE_BUCKETS))
        _attach_all(self.spark, tr, self.table)
        self.store = SemanticIndex.from_file(
            self.spark, self.store_input, embedder=DeterministicEmbedder(dim=gen.DIM))
        self.store.duplicate_handling = DuplicateHandling.UPDATE

    def schedule(self, rng):
        # each write is followed by one fresh read. The order is the same on
        # every seed (only the data is seeded), so which write precedes which
        # read kind does not change from run to run: the table state a read
        # meets depends on it. Over three cycles every read kind follows
        # every write kind once.
        n = 0
        while True:
            for write in self.WRITES:
                yield write
                yield self.READS[(n + n // 3) % 3]
                n += 1

    def op_merge(self):
        import pandas as pd

        from semantic_index_spark.sources import versioned as VER

        ids, vecs, new = self.model.next_upsert()

        def run():
            src = self.spark.createDataFrame(
                pd.DataFrame({"id": ids, "embedding": list(vecs)}),
                "id long, embedding array<float>")
            return self.tracer.call(
                "sources.versioned.merge_into_bucketed",
                lambda: VER.merge_into_bucketed(self.spark, self.table, src),
                write_dir=self.table, source_bytes=len(ids) * self.ROW_BYTES)

        self.timed("merge", run, items=len(ids))
        j = int(self.model.rng.integers(0, len(new)))  # new keys lead the batch
        self.read_query = (vecs[j], int(new[j]))

    def op_delete(self):
        from semantic_index_spark.sources import versioned as VER

        ids, gone = self.model.next_delete()

        def run():
            keys = self.spark.createDataFrame([(int(i),) for i in ids], "id long")
            return self.tracer.call(
                "sources.versioned.delete_bucketed",
                lambda: VER.delete_bucketed(self.spark, self.table, keys),
                write_dir=self.table, source_bytes=len(ids) * 8)

        self.timed("delete", run, items=len(ids))
        self.read_query = (gone[int(ids[0])], None)

    def op_add_range_save(self):
        batch = self.model.next_store_batch()

        def run():
            self.tracer.call("index.add_range", lambda: self.store.add_range(batch))
            self.tracer.call("index.save", lambda: self.store.save(self.store_path),
                             write_dir=self.store_path,
                             source_bytes=len(batch) * 4 * gen.DIM)

        self.timed("add_range_save", run, items=len(batch))
        ids, vecs = self.model.matrix()
        self.read_query = (vecs[int(self.model.rng.integers(0, len(ids)))], None)
        expect = len(set(self.model.store_items))
        return lambda: require(self.store.count() == expect, "store count differs from model")

    def _read(self, kind: str, fn):
        q, must_top = self.read_query
        rows = self.timed("read_" + kind, lambda: self.tracer.call(
            f"sources.indexed.indexed_{kind}_topk", lambda: fn(q.tolist()),
            action=lambda df: df.collect())[1])

        def check():
            ids, vecs = self.model.matrix()
            pos = {int(i): p for p, i in enumerate(ids)}
            deleted = self.model.deleted
            require(not deleted.intersection(int(r[0]) for r in rows), "deleted id in result")
            require(all(int(r[0]) in pos for r in rows), "id not in the model")
            if must_top is not None:
                require(rows and int(rows[0][0]) == must_top,
                        f"just-merged id {must_top} is not top-1 for its own vector")
            mapped = [(pos[int(r[0])], r[1]) for r in rows]
            self.recall.append(check_topk(mapped, gen.scores(vecs, q), exact=False))
        return check

    def op_read_hnsw(self):
        from semantic_index_spark.sources import indexed as IX
        return self._read("hnsw", lambda q: IX.indexed_hnsw_topk(self.spark, self.table, q, k=K, ef=64))

    def op_read_ivfsq(self):
        from semantic_index_spark.sources import indexed as IX
        return self._read("ivfsq", lambda q: IX.indexed_ivfsq_topk(
            self.spark, self.table, q, k=K, nprobe=2, candidates=100))

    def op_read_ivfpq(self):
        from semantic_index_spark.sources import indexed as IX
        return self._read("ivfpq", lambda q: IX.indexed_ivfpq_topk(
            self.spark, self.table, q, k=K, nprobe=2, candidates=100))

    def items_per_s(self) -> float:
        """Rows written per second of write time."""
        busy = sum(sum(self.lat[k]) for k in self.WRITES) / 1e3
        return sum(self.items[k] for k in self.WRITES) / busy

    def finalize(self) -> None:
        """The final table must equal the dict model, row for row."""
        from semantic_index_spark.sources import versioned as VER

        self.attempted += 1
        try:
            rows = VER.read_bucketed(self.spark, self.table).select("id", "embedding").collect()
            got = {int(r["id"]): np.asarray(r["embedding"], dtype=np.float32) for r in rows}
            require(len(got) == len(rows), "duplicate keys in the final table")
            require(set(got) == set(self.model.rows), "final table keys differ from the model")
            bad = [i for i, v in got.items() if not np.array_equal(v, self.model.rows[i])]
            require(not bad, f"{len(bad)} final rows differ from the model")
        except Exception as e:  # noqa: BLE001
            self.failed += 1
            self.failures.append(f"final_table: {type(e).__name__}: {e}")
        self.store_bytes = sum(dir_files(self.table).values())

    def detail(self) -> dict:
        reads = [x for k in self.READS for x in self.lat[k]]
        return {
            "merge_p50_ms": (summarize(self.lat["merge"]), "ms"),
            "ingest_rows_per_s": (self.items_per_s(), "1/s"),
            "fresh_read_p50_ms": (summarize(reads), "ms"),
            "fresh_read_recall_at_10": (float(np.mean(self.recall)) if self.recall else None, "share"),
            "store_bytes_per_row": (self.store_bytes / max(len(self.model.rows), 1), "B"),
        }


# --------------------------------------------------------------- search_dedup


class SearchDedup(Workload):
    """Scan-bound batch work that touches no versioned table: one dedup pass
    over a corpus with planted duplicates, then exact top-k search over a
    clustered corpus (one query, or a batch of 64). The pass runs exact
    dedup, MinHash LSH candidate pairs, connected components and golden
    records, plus the gopher quality rules."""

    name = "search_dedup"
    kinds = ("exact", "exact_batch", "dedup_pass")
    SEARCHES = ["exact"] * 3 + ["exact_batch"] * 2
    warm_first = tuple(SEARCHES)
    cold_kinds = ("dedup_pass",)

    def generate(self) -> None:
        self.inp = gen.SearchCorpus(self.seed)
        self.corpus_path = os.path.join(self.work, "corpus")
        self.inp.write_corpus(self.corpus_path)
        self.next_q = 0

        self.corpus = gen.DedupCorpus(self.seed)
        self.docs_path = os.path.join(self.work, "docs")
        c = self.corpus
        gen.write_parquet(self.docs_path, {"doc_id": c.ids, "text": c.texts,
                                           "source": c.sources, "n_words": c.n_words})
        self.f1: list[float] = []
        self.true_pair_ratio: list[float] = []

    def setup(self) -> None:
        import pyspark.sql.functions as F

        from semantic_index_spark import SemanticIndex

        self.index = SemanticIndex.from_file(self.spark, self.corpus_path)
        self.big = self.index.records.select(
            F.col("item").cast("long").alias("vec_id"), "embedding"
        )
        self.docs = self.spark.read.parquet(self.docs_path)

    def loop(self, seconds: float) -> None:
        # one dedup pass, then the searches get the whole measuring time
        self.run_op("dedup_pass")
        super().loop(seconds)

    def schedule(self, rng):
        return self.cycles(rng, self.SEARCHES)

    def _query(self):
        q = self.inp.queries[self.next_q % gen.SEARCH_QUERY_POOL]
        self.next_q += 1
        return q

    def op_exact(self):
        q = self._query()
        rows = self.timed("exact", lambda: self.tracer.call(
            "index.search_df", lambda: self.index.search_df(q.tolist(), K),
            action=lambda df: df.select("item", "score").collect())[1])
        return lambda: check_topk(rows, gen.scores(self.inp.corpus, q))

    def op_exact_batch(self):
        import pandas as pd

        from semantic_index_spark.operators import similarity as S

        qs = np.stack([self._query() for _ in range(gen.SEARCH_BATCH)])

        def run():
            qdf = self.spark.createDataFrame(
                pd.DataFrame({"q_id": np.arange(len(qs), dtype=np.int64), "q_embedding": list(qs)}),
                "q_id long, q_embedding array<float>",
            )
            return self.tracer.call(
                "operators.similarity.topk_multi",
                lambda: S.topk_multi(self.big, qdf, k=K),
                action=lambda df: df.select("q_id", "vec_id", "score", "rank").collect())[1]

        rows = self.timed("exact_batch", run, items=len(qs))

        def check():
            by_q: dict[int, list] = {}
            for r in rows:
                by_q.setdefault(int(r["q_id"]), []).append(r)
            require(len(by_q) == len(qs), f"{len(by_q)} queries answered of {len(qs)}")
            s_all = gen.round6(self.inp.corpus.astype(np.float64) @ qs.astype(np.float64).T)
            for qi, got in by_q.items():
                got.sort(key=lambda r: r["rank"])
                check_topk([(r["vec_id"], r["score"]) for r in got], s_all[:, qi])
        return check

    def _pass(self) -> dict:
        from semantic_index_spark.operators import dedup as D
        from semantic_index_spark.operators import text_analysis as TA

        tr, docs = self.tracer, self.docs
        out = {}
        exact, out["exact"] = tr.call(
            "operators.dedup.exact_dedup", lambda: D.exact_dedup(docs),
            action=lambda df: df.select("doc_id").collect())
        survivors = docs.join(exact.select("doc_id"), "doc_id", "left_semi")
        _, out["pairs"] = tr.call(
            "operators.dedup.minhash_lsh_pairs",
            lambda: D.minhash_lsh_pairs(survivors, num_hashes=8, bands=4),
            action=lambda df: df.collect())
        # the checked pairs go on to clustering, so each call's counters
        # are its own work and not a recomputation of the pair search
        pairs = self.spark.createDataFrame(
            [(int(r["id_a"]), int(r["id_b"])) for r in out["pairs"]], "id_a long, id_b long")
        labels, out["labels"] = tr.call(
            "operators.dedup.connected_components",
            lambda: D.connected_components(survivors.select("doc_id"), pairs),
            action=lambda df: df.collect())
        _, out["gold"] = tr.call(
            "operators.dedup.golden_records",
            lambda: D.golden_records(survivors, labels, mode_cols=["source"],
                                     max_cols=["n_words"]),
            action=lambda df: df.collect())
        _, out["gopher"] = tr.call(
            "operators.text_analysis.gopher_rules", lambda: TA.gopher_rules(docs),
            action=lambda df: df.select("doc_id", "n_words", "pass_gopher").collect())
        return out

    def op_dedup_pass(self):
        out = self.timed("dedup_pass", self._pass, items=gen.DEDUP_DOCS)
        c = self.corpus
        pairs = [(int(r["id_a"]), int(r["id_b"])) for r in out["pairs"]]
        ratio = sum(c.is_planted(a, b) for a, b in pairs) / max(len(pairs), 1)
        self.true_pair_ratio.append(ratio)
        self.tracer.annotate("operators.dedup.minhash_lsh_pairs", true_pair_ratio=ratio)

        def check():
            surv = {int(r["doc_id"]) for r in out["exact"]}
            require(surv == c.exact_survivors, "planted exact duplicates did not collapse")
            comp = {int(r["doc_id"]): int(r["component"]) for r in out["labels"]}
            require(set(comp) == surv, "components do not label every survivor once")
            require(all(comp[a] == comp[b] for a, b in pairs), "a candidate pair spans components")
            require(all(v <= k and comp[v] == v for k, v in comp.items()),
                    "component label is not the smallest member id")
            gold = out["gold"]
            require(sum(int(r["n_members"]) for r in gold) == len(surv), "golden records lose members")
            require(len(gold) == len(set(comp.values())), "one golden record per component")
            require(all(int(r["canonical_id"]) == int(r["cluster"]) for r in gold),
                    "canonical id is not the cluster's smallest id")
            words = dict(zip(c.ids.tolist(), c.n_words.tolist()))
            require(len(out["gopher"]) == gen.DEDUP_DOCS, "gopher rules dropped docs")
            require(all(int(r["n_words"]) == words[int(r["doc_id"])] for r in out["gopher"]),
                    "gopher word counts differ from the generator's")
            self.f1.append(c.pair_f1(comp))
        return check

    def detail(self) -> dict:
        pct, tail_ms = tail(self.lat["exact"])
        return {
            "exact_p50_ms": (summarize(self.lat["exact"]), "ms"),
            "exact_tail_ms": (tail_ms, f"ms@p{pct}" if pct else "ms"),
            "exact_batch_qps": (gen.SEARCH_BATCH * 1e3 / summarize(self.lat["exact_batch"]), "1/s"),
            "dedup_docs_per_s": (gen.DEDUP_DOCS * 1e3 / summarize(self.lat["dedup_pass"]), "1/s"),
            "dedup_pair_f1": (float(np.mean(self.f1)) if self.f1 else None, "share"),
            "true_pair_ratio": (float(np.mean(self.true_pair_ratio)) if self.true_pair_ratio else None, "share"),
        }


WORKLOADS = {w.name: w for w in (IndexIngest, SearchDedup)}


# -------------------------------------------------------------------- helpers


def _write_store(path: str, items: list[str]) -> None:
    """A ``SemanticIndex`` snapshot (canonical-JSON item, embedding) of
    ``items``, embedded client-side with the deterministic embedder."""
    from semantic_index_spark.embedder import DeterministicEmbedder
    from semantic_index_spark.index import canonical_json

    keys = [canonical_json(it) for it in items]
    vecs = DeterministicEmbedder(dim=gen.DIM).embed_batch(keys)
    gen.write_parquet(path, {"item": keys, "embedding": np.asarray(vecs)})


def _attach_all(spark, tr, table: str) -> None:
    from semantic_index_spark.sources import indexed as IX

    tr.call("sources.indexed.attach_hnsw_index", lambda: IX.attach_hnsw_index(spark, table))
    tr.call("sources.indexed.attach_ivfsq_index", lambda: IX.attach_ivfsq_index(spark, table))
    tr.call("sources.indexed.attach_ivfpq_index",
            lambda: IX.attach_ivfpq_index(spark, table, m_sub=8, iters=1))


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
