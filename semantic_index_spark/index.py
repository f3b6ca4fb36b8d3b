"""SemanticIndex — the reference's full 24-operation surface as a
Parquet-backed DataFrame (SURVEY.md §2.A maps every method here to its
source lines in `/root/reference/ChatAIze.SemanticIndex/SemanticDatabase.cs`).

State model: the reference holds ``List<SemanticRecord<T>>`` guarded by a
``ReaderWriterLockSlim`` (`SemanticDatabase.cs:37,19`). Here the state is an
immutable DataFrame with schema ``(item: string, embedding: array<float>)``
— the item column is the item's canonical JSON, which the reference uses as
both the equality key and the embedding input (`SemanticDatabase.cs:161,169`).
Mutations return/replace a new snapshot; persistence uses write-then-swap
directories so concurrent readers always see a complete snapshot (the lock
becomes unnecessary — SURVEY.md §1.4).

Scale posture: every mutation is an (anti-)join on the item key. At 100 TB
the incoming batch is almost always tiny relative to the index, so the new
side is explicitly broadcast — the upsert is then a shuffle-free
broadcast-hash anti-join over the partitioned index. The index Parquet can
additionally be bucketed by ``hash(item)`` so repeated upserts co-locate.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Iterable
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, FloatType, StringType, StructField, StructType

from semantic_index_spark.duplicate_handling import DuplicateHandling, DuplicateItemError
from semantic_index_spark.embedder import DeterministicEmbedder, Embedder, embed_udf
from semantic_index_spark.functions import vector as V
from semantic_index_spark.session import pin

RECORD_SCHEMA = StructType(
    [
        StructField("item", StringType(), nullable=False),
        StructField("embedding", ArrayType(FloatType(), containsNull=False), nullable=False),
    ]
)


def canonical_json(item: Any) -> str:
    """Canonical JSON key for an item, mirroring the reference's
    ``JsonSerializer.Serialize(item)`` identity (`SemanticDatabase.cs:161`).
    Strings serialize to JSON strings (quoted) exactly as System.Text.Json
    does, so equality semantics match."""
    return json.dumps(item, separators=(",", ":"), sort_keys=True, ensure_ascii=False)


class SemanticIndex:
    """DataFrame-backed semantic index with the reference's operation set."""

    def __init__(
        self,
        spark: SparkSession,
        embedder: Embedder | None = None,
        duplicate_handling: DuplicateHandling = DuplicateHandling.UPDATE,
        df: DataFrame | None = None,
    ):
        # ctor family: SemanticDatabase.cs:42,49-52,59-62 (bind client);
        # DuplicateHandling default Update: SemanticDatabase.cs:85.
        self.spark = spark
        # The embedder's dim governs search's driver-side fast-fail. It is
        # trustworthy as long as this index's embeddings came from the
        # embedder itself (add_*/refresh paths — including the default
        # embedder); load() without a user-supplied embedder clears
        # _dim_trusted because the stored vectors may have any dimension,
        # and search then relies on its plan-side guard instead.
        self._embedder_supplied = embedder is not None
        self._dim_trusted = True
        self.embedder = embedder or DeterministicEmbedder()
        self.duplicate_handling = duplicate_handling
        self._df = df if df is not None else spark.createDataFrame([], RECORD_SCHEMA)
        self._embed_udf = embed_udf(self.embedder)

    # ------------------------------------------------------------------ config

    @property
    def api_key(self) -> str | None:
        """Passthrough to the embedder's credential, mirroring the
        reference's `ApiKey` property (`SemanticDatabase.cs:67-71`)."""
        return getattr(self.embedder, "api_key", None)

    @api_key.setter
    def api_key(self, value: str | None) -> None:
        if not hasattr(self.embedder, "api_key"):
            raise AttributeError("configured embedder takes no api_key")
        self.embedder.api_key = value

    @property
    def embedding_model(self) -> str | None:
        """Embedding model selector (`SemanticDatabase.cs:76-80`; default
        `text-embedding-3-large` at `:31`). Deterministic test embedders
        expose no model — the getter then returns None."""
        return getattr(self.embedder, "model", None)

    @embedding_model.setter
    def embedding_model(self, value: str) -> None:
        if not hasattr(self.embedder, "model"):
            raise AttributeError("configured embedder takes no model")
        self.embedder.model = value

    # ------------------------------------------------------------------ views

    @property
    def records(self) -> DataFrame:
        """Snapshot view of all records (`SemanticDatabase.cs:90-105`).
        DataFrames are immutable, so this IS a consistent snapshot."""
        return self._df

    def count(self) -> int:
        """Record count (`SemanticDatabase.cs:110-125`) → ``df.count()``."""
        return self._df.count()

    def contains(self, item: Any) -> bool:
        """Equality scan (`SemanticDatabase.cs:228-242`): a pushed-down
        equality predicate + limit 1, not a full materialization."""
        key = canonical_json(item)
        return self._df.filter(F.col("item") == F.lit(key)).limit(1).count() > 0

    def get_all(self) -> list[Any]:
        """Project items only (`SemanticDatabase.cs:248-260`) — column
        pruning reaches the Parquet scan, the embedding column is never read."""
        return [json.loads(r["item"]) for r in self._df.select("item").collect()]

    # ---------------------------------------------------------------- mutation

    def _new_records_df(self, items: list[Any]) -> DataFrame:
        keys = [(canonical_json(it),) for it in items]
        new = self.spark.createDataFrame(keys, StructType([RECORD_SCHEMA.fields[0]]))
        # One vectorized embedding pass over the whole column — the batch
        # analogue of the reference's per-item network call loop
        # (SemanticDatabase.cs:198-206, which is N sequential calls).
        return new.withColumn("embedding", self._embed_udf(F.col("item")))

    def add(self, item: Any, duplicate_handling: DuplicateHandling | None = None) -> None:
        """`AddAsync` (`SemanticDatabase.cs:157-191`)."""
        self.add_range([item], duplicate_handling)

    def add_range(
        self, items: Iterable[Any], duplicate_handling: DuplicateHandling | None = None
    ) -> None:
        """`AddRangeAsync` (`SemanticDatabase.cs:198-206`) — but as ONE
        batched insert: embed the whole column, apply the policy once.

        Policy compositions (SURVEY.md §2.A rows 8a-8d):
          ALLOW  → plain union (`SemanticDatabase.cs:169` bypass)
          UPDATE → anti-join old vs new keys, then union (remove-all-then-add,
                   `SemanticDatabase.cs:171-174`)
          SKIP   → anti-join new vs old keys, then union (`:175-178`)
          THROW  → semi-join probe, raise on hit (`:179-182`)
        The new side is broadcast: at index scale >> batch scale this is a
        shuffle-free broadcast hash join against the partitioned index.
        """
        items = list(items)
        if not items:
            return
        self._apply_policy(
            self._new_records_df(items), duplicate_handling or self.duplicate_handling
        )

    def upsert_df(
        self,
        new_items: DataFrame,
        duplicate_handling: DuplicateHandling | None = None,
        canonicalize: bool = True,
    ) -> None:
        """Distributed AddRange: items arrive as a DataFrame with an ``item``
        JSON string column. By default each item is re-serialized to
        CANONICAL JSON executor-side (sorted keys, tight separators) so the
        equality key matches :func:`canonical_json`-keyed store records —
        a stream delivering ``{"b":1,"a":2}`` must dedup against a stored
        ``{"a":2,"b":1}``. Pass ``canonicalize=False`` only when the
        producer already canonicalizes (saves one Arrow pass; embedding
        already pays one). Embeds via the vectorized pandas_udf on
        executors and applies the duplicate policy as joins — nothing is
        ever collected to the driver. This is the micro-batch body of the
        streaming ingest path (`SemanticDatabase.cs:213-221` analogue)."""
        new = new_items.select("item")
        if canonicalize:
            from pyspark.sql.functions import pandas_udf

            @pandas_udf("string")
            def _canon(items):  # pd.Series -> pd.Series
                return items.map(
                    lambda s: canonical_json(json.loads(s)) if s is not None else None
                )

            new = new.select(_canon(F.col("item")).alias("item"))
        new = new.withColumn("embedding", self._embed_udf(F.col("item")))
        self._apply_policy(new, duplicate_handling or self.duplicate_handling)

    def _apply_policy(self, new: DataFrame, policy: DuplicateHandling) -> None:
        # within-batch duplicates: the reference processes items sequentially,
        # so a later duplicate in the same batch wins under UPDATE and is
        # dropped under SKIP; THROW raises if the batch collides with the
        # store OR itself.
        if policy is DuplicateHandling.UPDATE:
            new = new.dropDuplicates(["item"])
            old = self._df.join(F.broadcast(new.select("item")), "item", "left_anti")
            self._df = old.unionByName(new)
        elif policy is DuplicateHandling.SKIP:
            new = new.dropDuplicates(["item"])
            # probe the (possibly huge) index with the small batch; AQE picks
            # the join strategy — the batch side is the natural build side.
            new = new.join(self._df.select("item"), "item", "left_anti")
            self._df = self._df.unionByName(new)
        elif policy is DuplicateHandling.THROW:
            dup = new.join(self._df.select("item"), "item", "left_semi").limit(1).collect()
            if dup:
                raise DuplicateItemError(f"duplicate item: {dup[0]['item']}")
            batch_dup = (
                new.groupBy("item").count().filter(F.col("count") > 1).limit(1).collect()
            )
            if batch_dup:
                raise DuplicateItemError(f"duplicate item in batch: {batch_dup[0]['item']}")
            self._df = self._df.unionByName(new)
        else:  # ALLOW
            self._df = self._df.unionByName(new)

    def remove(self, item: Any) -> None:
        """Delete ALL equal items (`SemanticDatabase.cs:423-437`, remove-all
        semantics at `:431`) — a pushed-down inequality filter."""
        key = canonical_json(item)
        self._df = self._df.filter(F.col("item") != F.lit(key))

    def remove_range(self, items: Iterable[Any]) -> None:
        """`RemoveRange` (`SemanticDatabase.cs:443-460`) as ONE broadcast
        anti-join instead of the reference's per-item scans (`:451-454`)."""
        keys = [(canonical_json(it),) for it in items]
        if not keys:
            return
        victims = self.spark.createDataFrame(keys, "item string")
        self._df = self._df.join(F.broadcast(victims), "item", "left_anti")

    def clear(self) -> None:
        """Drop all records (`SemanticDatabase.cs:465-477`)."""
        self._df = self.spark.createDataFrame([], RECORD_SCHEMA)

    def compact(self) -> None:
        """Bound the logical plan after long mutation chains: every
        add/remove layers another join/union onto the lineage, and
        analysis time grows with it. ``compact`` materializes the current
        snapshot (an eager pin) and restarts the lineage from it — the
        in-memory analogue of ``save()``'s plan truncation. Call it every
        few hundred mutations in driver-resident workflows; persisted
        workflows get the same effect from ``save()``."""
        self._df = pin(self._df, "SemanticIndex.compact", "eager")

    def refresh_embeddings(self) -> None:
        """Re-embed every item (`SemanticDatabase.cs:385-417`) as one
        full-column transform — and unlike the reference's in-place mutation
        quirk (SURVEY.md §1.3), snapshot semantics are atomic here."""
        self._df = self._df.select("item").withColumn(
            "embedding", self._embed_udf(F.col("item"))
        )

    # ------------------------------------------------------------------ search

    def search_df(self, embedding: Iterable[float], count: int = 10) -> DataFrame:
        """Brute-force exact KNN (`SemanticDatabase.cs:268-308`): score every
        record with a raw DOT product (`:279` — not cosine, SURVEY.md §2.C.1),
        return top-k descending (`:307`), default k=10 (`:268`).

        Physical plan: pruned scan → project(score) → TakeOrderedAndProject,
        i.e. per-partition bounded top-k + driver merge — the same
        O(N·d + N log k) shape as the reference's SortedList loop
        (`:281-299`), but embarrassingly parallel across partitions.

        Tie-break divergence (SURVEY.md §2.C.3): the reference perturbs tied
        scores by +1e-6 (`:283-286`); we instead order by (score DESC, item)
        for deterministic, stable output.
        """
        q = [float(x) for x in embedding]
        dim = getattr(self.embedder, "dim", None) if self._dim_trusted else None
        if dim is not None and len(q) != dim:
            # zip_with pads the shorter array with NULLs, which would turn
            # every score NULL and return arbitrary rows — fail loudly.
            raise ValueError(
                f"query embedding has dim {len(q)}, index embedder expects {dim}"
            )
        # Embedder-less indexes (e.g. from_file) have no driver-side dim to
        # check against, so the plan itself guards every row: a mismatched
        # stored embedding raises instead of silently scoring NULL. The
        # size() compare is O(1) JVM work next to the O(d) dot product.
        score = F.when(
            F.size("embedding") == F.lit(len(q)),
            V.dot_literal(F.col("embedding"), q),
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"query embedding has dim {len(q)}, stored embedding has dim "),
                    F.size("embedding").cast("string"),
                )
            )
        )
        return (
            self._df.withColumn("score", score)
            .orderBy(F.desc("score"), F.asc("item"))
            .limit(count)
        )

    def search(self, embedding: Iterable[float], count: int = 10) -> list[Any]:
        """`Search` (`SemanticDatabase.cs:268-308`) materialized to items."""
        return [json.loads(r["item"]) for r in self.search_df(embedding, count).collect()]

    def search_first(self, embedding: Iterable[float]) -> Any | None:
        """`SearchFirst` (`SemanticDatabase.cs:315-321`)."""
        out = self.search(embedding, 1)
        return out[0] if out else None

    def search_text(self, query: str, count: int = 10) -> list[Any]:
        """`SearchAsync(string)` (`SemanticDatabase.cs:330-336`): embed the
        query driver-side (one vector — no reason to distribute), then KNN.
        We use the SAME embedder for items and queries, diverging from the
        reference's model-mismatch quirk (`:162` vs `:334`, SURVEY §2.A#15)."""
        q = self.embedder.embed_batch([query])[0]
        return self.search(q, count)

    def search_first_text(self, query: str) -> Any | None:
        """`SearchFirstAsync(string)` (`SemanticDatabase.cs:344-350`)."""
        out = self.search_text(query, 1)
        return out[0] if out else None

    def search_object(self, query: Any, count: int = 10) -> list[Any]:
        """`SearchAsync(object)` (`SemanticDatabase.cs:359-365`): serialize
        the query to canonical JSON (`:363`), embed, KNN."""
        return self.search_text(canonical_json(query), count)

    def search_first_object(self, query: Any) -> Any | None:
        """`SearchFirstAsync(object)` (`SemanticDatabase.cs:373-379`)."""
        out = self.search_object(query, 1)
        return out[0] if out else None

    # ------------------------------------------------------------- persistence

    def save(self, path: str, fmt: str = "parquet") -> None:
        """`SaveAsync` (`SemanticDatabase.cs:508-526`). Primary format is
        partitioned Parquet via write-then-swap (atomic snapshot semantics —
        the Spark replacement for the reference's write lock).

        ``fmt="ref_json"`` emits the reference's EXACT single-file format —
        a JSON array of ``{"Item": <T>, "Embedding": [...]}``
        (`SemanticDatabase.cs:524-525`) — readable by the .NET reference
        and re-loadable here (round-trip tested). ``fmt="json"`` is a
        single-file JSONL SELF-round-trip export (lowercase item/embedding
        fields — NOT the reference's array format). Both single-file paths
        serialize the write; explicit exports, never the primary store
        (SURVEY.md §7)."""
        if fmt == "ref_json":
            from semantic_index_spark.sources.io import write_reference_json_array

            write_reference_json_array(self._df, path)
            return
        if fmt == "json":
            tmp = path + ".tmp"
            self._df.coalesce(1).write.mode("overwrite").json(tmp)
            part = next(f for f in os.listdir(tmp) if f.startswith("part-"))
            if os.path.isdir(path):
                shutil.rmtree(path)
            elif os.path.exists(path):
                os.remove(path)
            shutil.move(os.path.join(tmp, part), path)
            shutil.rmtree(tmp)
            return
        tmp = path + ".__tmp__"
        schema = self._df.schema
        self._df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.rename(tmp, path)
        # re-point the lineage at the persisted snapshot: truncates the
        # logical plan accumulated by prior mutations (the Spark analogue of
        # the reference's full-file rewrite). The schema just written is
        # known, so the read skips the footer-inference job.
        self._df = self.spark.read.schema(schema).parquet(path)

    def load(self, path: str, fmt: str = "parquet") -> None:
        """`LoadAsync` (`SemanticDatabase.cs:484-501`) — the store snapshot
        is replaced. Parquet/JSONL load as distributed scans;
        ``fmt="ref_json"`` parses a reference-produced JSON-array file
        (inherently single-file/non-splittable, `SemanticDatabase.cs:
        488-489`)."""
        # Loaded embeddings may have any dimension; without a user-supplied
        # embedder the default's dim is now just a placeholder, so search's
        # driver-side fast-fail must defer to the plan-side guard.
        if not self._embedder_supplied:
            self._dim_trusted = False
        if fmt == "ref_json":
            from semantic_index_spark.sources.io import load_reference_json_array

            self._df = load_reference_json_array(self.spark, path)
            return
        if fmt == "json":
            self._df = self.spark.read.schema(RECORD_SCHEMA).json(path)
        else:
            self._df = self.spark.read.parquet(path)

    @classmethod
    def from_file(
        cls,
        spark: SparkSession,
        path: str,
        embedder: Embedder | None = None,
        fmt: str = "parquet",
    ) -> "SemanticIndex":
        """`FromFileAsync` (`SemanticDatabase.cs:134-150`): construct + load."""
        idx = cls(spark, embedder=embedder)
        idx.load(path, fmt=fmt)
        return idx
