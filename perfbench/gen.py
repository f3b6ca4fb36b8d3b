"""Seeded input generators and NumPy ground truth for the workloads.

Everything here runs before the timed region and never touches Spark: the
program under test receives only the generated inputs. The same seed gives
the same inputs, byte for byte.
"""

from __future__ import annotations

import os

import numpy as np

DIM = 64

# Workload sizes. They are scaled so that a whole run, Spark session start
# included, stays near a minute on four cores; BASELINE.md gives the reasons.
SEARCH_ROWS = 50_000
SEARCH_FILES = 4
SEARCH_CLUSTERS = 64
SEARCH_BATCH = 64
SEARCH_QUERY_POOL = 512

INGEST_TABLE_ROWS = 2_000
INGEST_TABLE_BUCKETS = 4
INGEST_BATCH = 16
INGEST_NEW_SHARE = 0.75
INGEST_STORE_ITEMS = 256

DEDUP_DOCS = 800
DEDUP_NEAR_SHARE = 0.20
DEDUP_EXACT_SHARE = 0.05
DEDUP_EDIT_SHARE = 0.05
DEDUP_MIN_WORDS = 20
DEDUP_MAX_WORDS = 400
DEDUP_VOCAB = 4_000
DEDUP_SOURCES = ["crawl", "books", "forum", "news", "wiki"]
# stopwords the gopher quality rule looks for, so generated prose passes it
STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def round6(a: np.ndarray) -> np.ndarray:
    """Round half away from zero at 6 decimals, as Spark's F.round does."""
    return np.sign(a) * np.floor(np.abs(a) * 1e6 + 0.5) / 1e6


def _unit(x: np.ndarray) -> np.ndarray:
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def cluster_centres(rng: np.random.Generator, clusters: int) -> np.ndarray:
    """``clusters`` random unit centres."""
    return _unit(rng.standard_normal((clusters, DIM)))


def around(rng: np.random.Generator, centres: np.ndarray, n: int,
           spread: float = 0.6) -> np.ndarray:
    """``n`` unit float32 vectors, each drawn around a random one of ``centres``."""
    which = rng.integers(0, len(centres), n)
    noise = rng.standard_normal((n, DIM)) * (spread / np.sqrt(DIM))
    return _unit(centres[which] + noise)


def write_parquet(path: str, columns: dict, files: int = 1) -> None:
    """Write ``columns`` (name to values; a 2-D float array becomes an
    ``array<float>`` column) as Parquet, split over ``files`` files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def arrow(values):
        if isinstance(values, np.ndarray) and values.ndim == 2:
            flat = pa.array(values.astype(np.float32).ravel())
            return pa.FixedSizeListArray.from_arrays(flat, values.shape[1]).cast(pa.list_(pa.float32()))
        return pa.array(values)

    tab = pa.table({name: arrow(v) for name, v in columns.items()})
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, tab.num_rows, files + 1).astype(int)
    for part, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        pq.write_table(tab.slice(lo, hi - lo), os.path.join(path, f"part-{part:05d}.parquet"))


def scores(matrix: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Exact dot scores in float64 — the truth every serve is checked against."""
    return matrix.astype(np.float64) @ np.asarray(q, dtype=np.float64)


# ----------------------------------------------------------- exact search


class SearchCorpus:
    """A clustered corpus for exact search and a pool of queries near it."""

    def __init__(self, seed: int):
        rng = np.random.default_rng([seed, 1])
        self.corpus = around(rng, cluster_centres(rng, SEARCH_CLUSTERS), SEARCH_ROWS)
        base = self.corpus[rng.integers(0, SEARCH_ROWS, SEARCH_QUERY_POOL)]
        self.queries = _unit(base + rng.standard_normal(base.shape) * (0.3 / np.sqrt(DIM)))

    def write_corpus(self, path: str) -> None:
        """Plain Parquet in the ``SemanticIndex`` record layout (item JSON
        string, float embedding array), split over a few files."""
        write_parquet(path, {"item": [str(i) for i in range(SEARCH_ROWS)],
                             "embedding": self.corpus}, files=SEARCH_FILES)


# ------------------------------------------------------------ index_ingest


class IngestModel:
    """Dict model of the ingest table: what ``read_bucketed`` must return
    after every write, plus the seeded write stream that produces it."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 2])
        # upserts are drawn around the same centres as the initial rows
        self.centres = cluster_centres(self.rng, 32)
        init = around(self.rng, self.centres, INGEST_TABLE_ROWS)
        self.rows: dict[int, np.ndarray] = {i: init[i] for i in range(INGEST_TABLE_ROWS)}
        self.deleted: set[int] = set()
        self.next_id = INGEST_TABLE_ROWS
        self.store_items = [f"item {i}" for i in range(INGEST_STORE_ITEMS)]
        self.next_item = INGEST_STORE_ITEMS

    def initial_rows(self):
        ids = np.arange(INGEST_TABLE_ROWS, dtype=np.int64)
        return ids, np.stack([self.rows[int(i)] for i in ids])

    def matrix(self):
        ids = np.fromiter(self.rows, dtype=np.int64, count=len(self.rows))
        return ids, np.stack([self.rows[int(i)] for i in ids])

    def next_upsert(self):
        """INGEST_BATCH rows: about three quarters new keys, the rest
        updates of live keys, each with a fresh vector."""
        n_new = int(round(INGEST_BATCH * INGEST_NEW_SHARE))
        live = np.fromiter(self.rows, dtype=np.int64, count=len(self.rows))
        upd = self.rng.choice(live, INGEST_BATCH - n_new, replace=False)
        new = np.arange(self.next_id, self.next_id + n_new, dtype=np.int64)
        self.next_id += n_new
        ids = np.concatenate([new, upd])
        vecs = around(self.rng, self.centres, len(ids))
        for i, v in zip(ids, vecs):
            self.rows[int(i)] = v
            self.deleted.discard(int(i))
        return ids, vecs, new

    def next_delete(self):
        live = np.fromiter(self.rows, dtype=np.int64, count=len(self.rows))
        ids = self.rng.choice(live, INGEST_BATCH, replace=False)
        gone = {int(i): self.rows.pop(int(i)) for i in ids}
        self.deleted.update(gone)
        return ids, gone

    def next_store_batch(self) -> list[str]:
        """AddRange batch under UPDATE: a quarter re-adds live items."""
        n_old = INGEST_BATCH // 4
        old = list(self.rng.choice(self.store_items, n_old, replace=False))
        new = [f"item {self.next_item + j}" for j in range(INGEST_BATCH - n_old)]
        self.next_item += len(new)
        self.store_items += new
        return old + new


# ------------------------------------------------------------------ dedup


class DedupCorpus:
    """Documents with a long-tailed length, planted near-duplicates (a few
    word edits each) and exact duplicates; ``cluster`` is the planted
    duplicate cluster of every doc."""

    def __init__(self, seed: int):
        rng = np.random.default_rng([seed, 3])
        letters = np.array(list("etaoinshrdlcumwfgypbvk"))
        vocab = set()
        while len(vocab) < DEDUP_VOCAB:
            n = int(rng.integers(3, 9))
            vocab.add("".join(rng.choice(letters, n)))
        vocab = STOPWORDS + sorted(vocab - set(STOPWORDS))
        weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
        weights /= weights.sum()
        vocab = np.array(vocab)

        n_near = int(DEDUP_DOCS * DEDUP_NEAR_SHARE)
        n_exact = int(DEDUP_DOCS * DEDUP_EXACT_SHARE)
        n_base = DEDUP_DOCS - n_near - n_exact
        lengths = np.clip(
            np.round(np.exp(rng.normal(np.log(60), 0.8, n_base))),
            DEDUP_MIN_WORDS, DEDUP_MAX_WORDS,
        ).astype(int)
        docs = [list(rng.choice(vocab, n, p=weights)) for n in lengths]
        cluster = list(range(n_base))
        for _ in range(n_near):
            b = int(rng.integers(0, n_base))
            words = list(docs[b])
            n_edit = max(1, int(round(len(words) * DEDUP_EDIT_SHARE)))
            for pos in rng.choice(len(words), n_edit, replace=False):
                words[pos] = vocab[rng.integers(0, len(vocab))]
            docs.append(words)
            cluster.append(b)
        for _ in range(n_exact):
            b = int(rng.integers(0, n_base))
            docs.append(list(docs[b]))
            cluster.append(b)
        # doc ids are a permutation, so duplicates are never adjacent
        perm = rng.permutation(DEDUP_DOCS)
        self.ids = np.empty(DEDUP_DOCS, dtype=np.int64)
        self.ids[perm] = np.arange(DEDUP_DOCS)
        self.texts = [" ".join(w) for w in docs]
        self.cluster = np.asarray(cluster)
        self.sources = [DEDUP_SOURCES[int(i)] for i in rng.integers(0, len(DEDUP_SOURCES), DEDUP_DOCS)]
        self.n_words = np.array([len(w) for w in docs], dtype=np.int64)

        # exact-dedup truth: one survivor (the smallest id) per distinct text
        first: dict[str, int] = {}
        for i, t in zip(self.ids.tolist(), self.texts):
            first[t] = min(first.get(t, i), i)
        self.exact_survivors = set(first.values())
        self.survivor_of = {i: first[t] for i, t in zip(self.ids.tolist(), self.texts)}
        # planted pairs: every pair of docs inside one planted cluster
        self.cluster_of = dict(zip(self.ids.tolist(), self.cluster.tolist()))
        self.planted_pairs = _pair_count(self.cluster)

    def is_planted(self, a: int, b: int) -> bool:
        return self.cluster_of[a] == self.cluster_of[b]

    def pair_f1(self, component_of: dict) -> float:
        """F1 of predicted co-cluster pairs against planted ones. A doc's
        predicted cluster is the component of its exact-dedup survivor."""
        pred = np.array([component_of[self.survivor_of[i]] for i in self.ids.tolist()])
        truth = self.cluster
        n_pred = _pair_count(pred)
        both = _pair_count(pred.astype(np.int64) * (int(truth.max()) + 1) + truth)
        if n_pred == 0 or self.planted_pairs == 0:
            return 0.0
        precision = both / n_pred
        recall = both / self.planted_pairs
        return 0.0 if both == 0 else 2 * precision * recall / (precision + recall)


def _pair_count(labels: np.ndarray) -> int:
    _, counts = np.unique(labels, return_counts=True)
    return int((counts * (counts - 1) // 2).sum())
