"""Deduplication operators for large-scale text corpora.

The reference only has exact, equality-on-key dedup via its 4 duplicate
policies (`SemanticDatabase.cs:169-183`, `DuplicateHandling.cs:7-28`) —
mapped in :mod:`semantic_index_spark.index`. Everything here is
[absent in reference — north-star extension]: the near-dup family a
training-data pipeline needs at 100 TB.

Scale design notes (these matter more than the formulas):
  * Exact dedup = hash-groupBy on a fingerprint — one shuffle, map-side
    partial aggregation, AQE handles skew. Never a sort.
  * MinHash+LSH turns the O(N²) near-dup join into `bands` equi-joins on
    band keys: shuffle on (band_idx, band_hash), only same-bucket pairs are
    compared. Candidate verification (true Jaccard) runs only on the
    candidate set.
  * All hashes are md5-derived (:func:`...functions.text.md5_bigint`) so the
    DuckDB oracle can replay them bit-for-bit — and so results are stable
    across Spark versions (builtin ``hash()`` is not guaranteed stable).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from semantic_index_spark.functions import text as T
from semantic_index_spark.functions import vector as V
from semantic_index_spark.session import pin, release_pin


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ONLY when the input is under-partitioned (e.g. one small
    parquet file → 1 partition, serializing every downstream stage on a
    32-core machine). The explode-heavy dedup operators fan rows out
    ~50-100×, so a coarse input partitioning multiplies into a single-task
    bottleneck; one cheap shuffle of the *pre-explode* rows unlocks full
    parallelism. At real corpus scale the input already has thousands of
    partitions and this is a no-op (and AQE coalesces the rest)."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on the normalized-text fingerprint, keeping the lowest id
    per group (deterministic winner). One shuffle on the 128-bit key;
    partial min() runs map-side. Columns: (id, fingerprint)."""
    return (
        df.select(F.col(id_col), T.fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, "fingerprint")
    )


def minhash_signature_long(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_n: int = 3,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Long-format MinHash signatures: (id, hash_idx, min_hash[, carry]).

    shingle → explode distinct → per (doc, hash_idx) min of a salted
    md5-derived 60-bit hash. The explode fans out rows but each is tiny;
    the single groupBy computes all `num_hashes` minima in one shuffle
    (map-side partial min keeps the shuffle small). ``carry_cols``
    (constant per id, e.g. a batch/corpus tag) ride the same aggregation
    as ``first()`` — no re-join to recover them.
    """
    carry_cols = carry_cols or []
    sh = ensure_parallelism(df).select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.explode(F.array_distinct(T.shingles(text_col, shingle_n))).alias("shingle"),
    )
    # ONE md5 yields FOUR 32-bit hash values (8 hex chars each) — 4× fewer
    # digest computations per exploded shingle row than salting per hash;
    # only every 5th+ hash pays another salted digest.
    aggs = []
    for i in range(num_hashes):
        j, c = divmod(i, 4)
        digest = F.md5(F.concat(F.lit(f"mh{j}:"), F.col("shingle")))
        aggs.append(
            F.min(F.conv(F.substring(digest, 1 + 8 * c, 8), 16, 10).cast("bigint")).alias(f"h{i}")
        )
    aggs += [F.first(c).alias(c) for c in carry_cols]
    wide = sh.groupBy(id_col).agg(*aggs)
    # unpivot to long form for band construction
    pairs = F.array(
        *[
            F.struct(F.lit(i).alias("hash_idx"), F.col(f"h{i}").alias("min_hash"))
            for i in range(num_hashes)
        ]
    )
    return wide.select(id_col, *carry_cols, F.explode(pairs).alias("p")).select(
        id_col,
        *carry_cols,
        F.col("p.hash_idx").alias("hash_idx"),
        F.col("p.min_hash").alias("min_hash"),
    )


def banded_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """(id, band_idx, band_key[, carry]) — each document's MinHash
    signature split into ``bands`` bands, each band collapsed to one md5
    key. The shared LSH currency of :func:`minhash_lsh_pairs`
    (within-corpus) and :func:`incremental_lsh_dedup` (batch-vs-corpus);
    at scale this is the table you persist once per corpus and equi-join
    every ingest against."""
    carry_cols = carry_cols or []
    rows_per_band = num_hashes // bands
    sig = minhash_signature_long(df, text_col, id_col, num_hashes, shingle_n, carry_cols)
    return (
        sig.withColumn("band_idx", (F.col("hash_idx") / rows_per_band).cast("int"))
        .groupBy(id_col, "band_idx")
        .agg(
            F.sort_array(F.collect_list(F.struct("hash_idx", "min_hash"))).alias("vals"),
            *[F.first(c).alias(c) for c in carry_cols],
        )
        .withColumn("band_key", F.md5(F.to_json(F.col("vals"))))
        .select(id_col, "band_idx", "band_key", *carry_cols)
    )


def incremental_lsh_dedup(
    corpus: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Screen an INCOMING batch against an EXISTING corpus: for each new
    doc sharing a full MinHash band with some corpus doc, return
    (new_id, dup_of = minimum colliding corpus id); new docs absent from
    the result are admitted. The production ingest-time shape of
    :func:`minhash_lsh_pairs`.

    Both sides ride ONE tagged signature pipeline (a per-side pipeline
    would pay the shingle→minhash cost twice), then one groupBy on
    (band_idx, band_key) reduces each bucket to its corpus MINIMUM while
    collecting its new ids — batch × corpus pairs never materialize, not
    even bucket-locally. At scale, persist the corpus side's banded
    signatures once (``banded_signatures``) and union each batch's
    signatures against the artifact instead of re-deriving them.

    Precondition: ``corpus`` and ``new`` id sets must be disjoint (an
    ingest batch is by definition not yet in the corpus) — the tagged
    union aggregates by id, so a shared id would collapse both sides
    into one arbitrary-tagged row."""
    tagged = corpus.select(
        F.col(id_col), F.col(text_col), F.lit(False).alias("_is_new")
    ).unionByName(new.select(F.col(id_col), F.col(text_col), F.lit(True).alias("_is_new")))
    banded = banded_signatures(
        tagged, text_col, id_col, num_hashes, bands, shingle_n, carry_cols=["_is_new"]
    )
    buckets = (
        banded.groupBy("band_idx", "band_key")
        .agg(
            F.min(F.when(~F.col("_is_new"), F.col(id_col))).alias("_corpus_min"),
            F.collect_list(F.when(F.col("_is_new"), F.col(id_col))).alias("_new_ids"),
        )
        .filter(F.col("_corpus_min").isNotNull() & (F.size("_new_ids") > 0))
    )
    return (
        buckets.select(F.explode("_new_ids").alias("new_id"), "_corpus_min")
        .groupBy("new_id")
        .agg(F.min("_corpus_min").alias("dup_of"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH.

    Signature split into `bands` bands of `num_hashes/bands` rows; a pair
    is a candidate iff some band's values all agree. Implemented as ONE
    groupBy on (band_idx, band_key) that collects each bucket's ids and
    explodes the within-bucket pairs — never an all-pairs comparison, and
    (unlike a signatures self-join, whose two branches Spark plans as two
    full signature pipelines) the shingle→minhash computation runs exactly
    once. Bucket membership lists are small by construction — LSH's whole
    point is scattering the corpus across ~|corpus| keys — and a
    degenerate hot bucket (stop-shingle artifact) explodes quadratically
    in EITHER formulation; cap it with ``max_bucket`` at scale, which
    drops only buckets too dense to mean anything. Returns distinct
    (id_a < id_b) pairs.
    """
    banded = banded_signatures(df, text_col, id_col, num_hashes, bands, shingle_n)
    buckets = (
        banded.groupBy("band_idx", "band_key")
        .agg(F.collect_list(F.col(id_col)).alias("_ids"))
        .filter(F.size("_ids") >= 2)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("_ids") <= max_bucket)
    return (
        buckets.select(F.explode("_ids").alias("id_a"), "_ids")
        .select("id_a", F.explode("_ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def edit_distance_verify(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_ratio: float = 0.5,
) -> DataFrame:
    """Verify CANDIDATE pairs (from any LSH stage) by normalized
    Levenshtein distance: ``lev(a,b) / max(len(a), len(b))``; keep pairs at
    or under ``max_ratio``. Only ever runs on the LSH-pruned candidate set,
    never all pairs — the candidate join is two hash equi-joins on the id,
    and the per-pair CPU stays inside codegen (`levenshtein` is a JVM
    built-in), embarrassingly parallel. Two levers keep that CPU bounded
    (candidate sets are mostly NON-duplicates, which naive O(len²) pays
    full price for):

    - a length-difference prefilter — ``lev >= |len_a - len_b|``, so a
      pair whose lengths differ by more than the cap can't pass and never
      reaches the expensive call;
    - thresholded ``levenshtein(a, b, cap)`` — Spark's banded variant does
      O(len·cap) work and returns -1 as soon as the distance provably
      exceeds ``cap = floor(max_ratio · max_len)``. For integer distances
      ``lev <= floor(r · L)  ⟺  lev/L <= r``, so "came back non-negative"
      IS the acceptance test and each pair pays for exactly one banded
      call.

    Columns: (id_a, id_b, edit_ratio)."""
    t = df.select(F.col(id_col), F.col(text_col))
    a = t.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("_ta"))
    b = t.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("_tb"))
    max_len = F.greatest(F.length("_ta"), F.length("_tb"), F.lit(1))
    cap = F.floor(F.lit(float(max_ratio)) * max_len).cast("int")
    lev = F.expr(
        f"levenshtein(_ta, _tb, cast(floor({float(max_ratio)!r} * "
        "greatest(length(_ta), length(_tb), 1)) as int))"
    )
    # Candidate pairs are tiny in BYTES (two ids), so AQE coalesces the
    # upstream LSH shuffle to one partition — which would serialize all
    # the Levenshtein CPU on one core (37s vs 2.6s on 42k candidates at
    # sf0.1, local[32]). An explicit repartition (user-specified counts
    # are exempt from AQE coalescing) spreads the CPU-bound stage. It must
    # sit BELOW the text joins: Catalyst pushes the edit_ratio filter into
    # the join condition above it (the texts it references don't exist
    # under the joins, so it can sink no further), which is where the
    # per-pair work actually runs.
    cpu_parallelism = 2 * pairs.sparkSession.sparkContext.defaultParallelism
    return (
        pairs.repartition(cpu_parallelism)
        .join(a, "id_a")
        .join(b, "id_b")
        .filter(F.abs(F.length("_ta") - F.length("_tb")) <= cap)
        # filter on the raw banded call (not a derived column) so the
        # pushed-down predicate contains exactly ONE levenshtein per pair;
        # the projection below re-evaluates it only for survivors.
        .filter(lev >= 0)
        .select(
            "id_a",
            "id_b",
            F.round(lev.cast("double") / max_len.cast("double"), 6).alias("edit_ratio"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """n-gram Jaccard similarity pairs ≥ threshold.

    explode distinct shingles → self-equi-join on shingle (hash-partitioned,
    never a cross join) → |A∩B| per pair → Jaccard via inclusion-exclusion.
    This is the *verifier* for LSH candidates and the exact small-scale
    baseline. Returns (id_a, id_b, jaccard) with id_a < id_b.

    ``max_df`` is the 100 TB lever: the join's pair count is
    Σ df(shingle)², so a handful of stopword-ish shingles appearing in
    df≈corpus documents quadratically dominate. With ``max_df`` set,
    shingles appearing in more than that many documents are dropped from
    BOTH the sizes and the intersection — a consistent Jaccard over the
    informative-shingle space (hot shingles carry no near-dup signal
    anyway). None = exact semantics.
    """
    sh = ensure_parallelism(df).select(
        F.col(id_col), F.explode(F.array_distinct(T.shingles(text_col, shingle_n))).alias("shingle")
    )
    if max_df is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("shingle")
        )
        sh = sh.join(keep, "shingle")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "id_a").join(F.broadcast(sb), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("common").cast("double") / (F.col("na") + F.col("nb") - F.col("common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """SimHash document signatures: (id, simhash).

    Per token, take an md5-derived hash; per bit, sum +1/-1 across tokens;
    the signature sets bits with positive sums. One explode + one groupBy
    (map-side partial sums); the `bits` aggregations are columnar and stay
    in codegen. Hamming-near signatures ≈ similar documents.
    """
    tok = ensure_parallelism(df).select(
        F.col(id_col), F.explode(T.tokens(text_col)).alias("tok")
    ).withColumn("h", T.md5_bigint(F.col("tok"), salt="sh:"))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    wide = tok.groupBy(id_col).agg(*aggs)
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(int(2**b)).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sig = term if sig is None else sig + term
    return wide.select(id_col, sig.alias("simhash"))


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """MOSS-style winnowing (the rolling-hash fingerprint family): hash
    every k-char gram of the normalized text, slide a w-gram window, keep
    each window's minimum hash; the DISTINCT minima are the document's
    fingerprints. Guarantees any match of length ≥ k+w-1 shares a
    fingerprint, while storing ~1/w of the gram hashes — the classic
    local-edit-robust dedup/plagiarism signature. Pure JVM expressions
    (sequence → transform → slice/min), one explode; fingerprints are
    md5-derived 32-bit values so the oracle replays them exactly.
    Returns (id, fingerprint) distinct."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    base = ensure_parallelism(df).select(F.col(id_col), norm.alias("_t"))
    n_grams = F.greatest(F.length("_t") - F.lit(k - 1), F.lit(1))
    hashes = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.conv(
            F.substring(F.md5(F.substr(F.col("_t"), i, F.lit(k))), 1, 8), 16, 10
        ).cast("bigint"),
    )
    with_h = base.select(id_col, hashes.alias("_h"))
    n_windows = F.greatest(F.size("_h") - F.lit(w - 1), F.lit(1))
    mins = F.transform(
        F.sequence(F.lit(1), n_windows), lambda j: F.array_min(F.slice(F.col("_h"), j, w))
    )
    return (
        with_h.select(F.col(id_col), F.explode(F.array_distinct(mins)).alias("fingerprint"))
        .distinct()
    )


def connected_components(
    vertices: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Dedup clustering: collapse near-dup PAIRS into components, labeling
    every vertex with the minimum id reachable from it (the canonical
    document of its duplicate cluster). Iterative min-label propagation:
    each round joins current labels across edges and keeps the minimum —
    converges in O(diameter) rounds, each one hash join + groupBy (both
    map-side combinable). The loop is driver-controlled with a cheap
    convergence check; at corpus scale components are tiny (near-dup
    clusters), so diameter is small and rounds are few.

    ``vertices``: one row per id. ``pairs``: (id_a, id_b) undirected.
    Returns (id, component).
    """
    fwd = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    rev = pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    # pin the edge list ONCE — without this every iteration would
    # re-derive the (possibly expensive) pair-generation lineage; it fills
    # inside the first round's convergence job. Released after the loop:
    # by then the last round's pin holds every label.
    edges = pin(fwd.unionByName(rev), "connected_components: edges")
    # a pin truncates the logical plan each round: the iterative lineage
    # would otherwise grow linearly and re-analyze quadratically.
    labels = prev = (
        vertices.select(F.col(id_col).alias("id"))
        .withColumn("comp", F.col("id"))
        .transform(pin, "connected_components: labels")
    )
    for _ in range(max_iter):
        # min label among (self, neighbors' labels)
        prop = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("comp").alias("n_comp"))
        )
        stepped = labels.join(prop, "id", "left").select(
            "id",
            F.least(F.col("comp"), F.coalesce(F.col("n_comp"), F.col("comp"))).alias("comp"),
            F.col("comp").alias("_old"),
        )
        # pointer jumping (path compression): comp ← comp(comp). Every comp
        # value is itself a node id with comp(x) ≤ x, so one extra self-join
        # doubles the propagation distance per round — convergence drops
        # from O(diameter) to O(log diameter) rounds, the difference
        # between 20+ and ~6 rounds on chain-heavy duplicate clusters.
        lut = stepped.select(F.col("id").alias("_cid"), F.col("comp").alias("_ccomp"))
        # lazy pin + convergence probe per round: the probe is the pin's
        # first action, and its fill-in job completes the pin before the
        # probe returns
        merged = (
            stepped.join(lut, stepped.comp == lut._cid)
            .select("id", F.col("_ccomp").alias("comp"), "_old")
            .transform(pin, "connected_components: labels")
        )
        changed = merged.filter(F.col("comp") != F.col("_old")).limit(1).count()
        # the probe filled this round's pin, so the one it supersedes is dead
        release_pin(prev)
        prev = merged
        labels = merged.select("id", "comp")
        if changed == 0:
            break
    release_pin(edges)
    return labels.select(F.col("id").alias(id_col), F.col("comp").alias("component"))


def embedding_neardup_pairs(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs ≥ threshold.

    With ``planes`` given, pairs are generated ONLY within equal
    random-hyperplane LSH buckets (equi-join on the packed signature —
    the 100 TB path: near-identical vectors land in the same bucket with
    high probability, and the join is hash-partitioned on the bucket key —
    no cross product, no broadcast-nested-loop). Without planes, falls back
    to the exact all-pairs join (correct, quadratic — only for verification
    scale). Per-row L2 norms are computed ONCE before the join (a pair-side
    recompute would pay 2 extra vector folds per candidate pair).
    Returns (id_a, id_b, cos) with id_a < id_b.
    """
    base = df.select(F.col(id_col), F.col(emb_col)).withColumn("nrm", V.l2_norm(emb_col))
    if planes is not None:
        base = base.withColumn("bucket", V.hyperplane_signature(emb_col, planes))
    a, b = base.alias("a"), base.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if planes is not None:
        # equi-condition FIRST so Catalyst plans a hash join on bucket
        cond = (F.col("a.bucket") == F.col("b.bucket")) & cond
    return (
        a.join(b, cond)
        .withColumn(
            "cos",
            F.round(
                V.dot(F.col(f"a.{emb_col}"), F.col(f"b.{emb_col}"))
                / (F.col("a.nrm") * F.col("b.nrm")),
                6,
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("cos"),
        )
    )


def semantic_cluster_dedup(
    df: DataFrame,
    centroids: list[list[float]],
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): assign every embedding to its max-dot centroid cell,
    then WITHIN each cell drop any item whose cosine to a lower-id cell-mate
    reaches ``threshold`` — one deterministic representative (the minimum
    id) survives per semantic near-dup set, without ever comparing across
    cells. Returns ``(id, cell, kept)`` for every input row.

    Scale shape: the quadratic pair generation is confined to single cells
    by an equi-join on the cell id (hash-partitioned — no cross product, no
    broadcast-nested-loop), so the pair count is Σ|cell|² instead of N² and
    the number of centroids is the lever that bounds it (SemDeDup's own
    scaling argument; they run k ≈ 50k clusters on LAION-scale data).
    Norms are computed once per row before the join; cell assignment is
    ``ivf_assign``'s, so a JVM dot fold per centroid for k ≤ 16 and one
    numpy matmul + argmax per Arrow batch beyond (SemDeDup's k)."""
    from semantic_index_spark.operators.similarity import ivf_assign

    # materialize the assignment ONCE: the k-centroid argmax (a Python
    # matmul stage at k > 16) would otherwise re-evaluate on BOTH sides of
    # the self-join plus the final keep-join (3× the dominant per-row
    # cost); ensure_parallelism first so a single-file input doesn't
    # serialize the assignment on one core.
    base = (
        ivf_assign(ensure_parallelism(df.select(id_col, emb_col)), centroids, emb_col)
        .withColumn("nrm", V.l2_norm(emb_col))
        .transform(pin, "semantic_cluster_dedup: base", "eager")
    )
    a, b = base.alias("a"), base.alias("b")
    cond = (F.col("a._cell") == F.col("b._cell")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    cos = F.round(
        V.dot(F.col(f"a.{emb_col}"), F.col(f"b.{emb_col}"))
        / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    dropped = (
        a.join(b, cond)
        .filter(cos >= threshold)
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return base.join(dropped, id_col, "left").select(
        F.col(id_col),
        F.col("_cell").alias("cell"),
        F.col("_dropped").isNull().alias("kept"),
    )


def duplicate_spans(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring-level exact-duplication signal (the ExactSubstr idea of
    Lee et al. 2022, arXiv:2107.06499, re-expressed relationally): hash
    every rolling ``n``-token window, call a window "duplicated" when its
    hash occurs in ≥ ``min_docs`` DISTINCT documents, and report per doc
    how much of it is duplicated text — ``(id, n_spans, n_dup,
    dup_fraction)``. This catches boilerplate / licence blocks / templated
    paragraphs that whole-document fingerprints miss. Docs shorter than
    ``n`` tokens have no windows and are absent from the output.

    Scale shape: the rolling windows are a JVM ``transform`` over the
    token array (no Python); the explode collapses into a word-count-shaped
    groupBy on the 128-bit hash (map-side partial agg bounds the shuffle by
    distinct-span count per partition); the duplicated-hash set joins back
    by ONE hash equi-join — never a document self-join, never positions ×
    positions. A true suffix-array ExactSubstr finds arbitrary-length
    matches; fixed-n rolling windows find every match ≥ n tokens (any such
    match contains a full n-window), which is the screening guarantee that
    matters at corpus scale."""
    if n < 1 or min_docs < 2:
        raise ValueError(f"duplicate_spans: need n >= 1, min_docs >= 2, got {n}, {min_docs}")
    # tokens bound once per document (one-element transform), not once
    # per window
    windows = F.transform(
        F.array(T.tokens(text_col)),
        lambda toks: F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - n + 1),
                lambda i: F.md5(F.array_join(F.slice(toks, i, n), " ")),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )[0]
    spans = ensure_parallelism(docs).select(
        F.col(id_col), F.explode(windows).alias("h")
    )
    duph = (
        spans.groupBy("h")
        .agg(F.count_distinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("h", F.lit(1).alias("_dup"))
    )
    return (
        spans.join(duph, "h", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_spans"),
            F.count("_dup").cast("bigint").alias("n_dup"),
        )
        .withColumn(
            "dup_fraction", F.round(F.col("n_dup") / F.col("n_spans"), 6)
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Directed n-gram CONTAINMENT pairs: c(a → b) = |S(a) ∩ S(b)| / |S(a)|
    ≥ threshold. The asymmetric complement to
    :func:`ngram_jaccard_pairs` — Jaccard misses the "boilerplate wrapper"
    and "long doc quotes short doc" dupes because the union term dilutes
    them (a 100-shingle doc fully embedded in a 10,000-shingle doc has
    Jaccard ≈ 0.01 but containment 1.0). Broder's (1997) resemblance vs
    containment distinction; the screen used for quote/subset detection in
    training-corpus curation.

    Same scale shape as the Jaccard verifier: explode distinct shingles →
    ONE hash self-equi-join on the shingle (never a cross join) → per-pair
    intersection counts → divide by the broadcast |S(a)| sizes. ``max_df``
    is the identical Σ df² lever. Returns (id_a, id_b, containment) with
    id_a ≠ id_b — directed, so a ⊂ b and b ⊂ a are distinct rows.
    """
    sh = ensure_parallelism(df).select(
        F.col(id_col),
        F.explode(F.array_distinct(T.shingles(text_col, shingle_n))).alias("shingle"),
    )
    if max_df is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("shingle")
        )
        sh = sh.join(keep, "shingle")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("na"))
    return (
        inter.join(F.broadcast(sa), "id_a")
        .withColumn(
            "containment",
            F.round(F.col("common").cast("double") / F.col("na"), 6),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def jaccard_prefix_join(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
) -> DataFrame:
    """EXACT token-set Jaccard self-join via prefix filtering (AllPairs /
    PPJoin family, Bayardo et al. WWW'07) — same answer as the brute-force
    all-pairs comparison, provably, but the join only materializes
    candidate pairs that share a *prefix* token.

    The pruning theorem: order every document's distinct tokens by one
    GLOBAL total order (ascending document frequency, token string as the
    tiebreak — rarest first). If J(a,b) ≥ t, then a and b must share at
    least one token among each one's first ``|set| − ceil(t·|set|) + 1``
    tokens. So the inverted-index join runs only on those prefixes —
    Σ df_prefix(tok)² pairs instead of Σ df(tok)² — and because rare
    tokens come first, the prefix index is built from exactly the
    low-df end of the vocabulary. A length filter
    (``|b| ≥ ceil(t·|a|)``) prunes further before verification.

    Verification then computes the TRUE Jaccard from the full sorted token
    arrays (one broadcast-or-shuffle join per side against the |docs|-row
    array table, ``array_intersect`` JVM-side). Unlike minhash-LSH this
    path has NO false negatives — the oracle is the literal O(N²)
    definition and must match row-for-row.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold
    (compared after round(6), matching :func:`ngram_jaccard_pairs`).
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError("jaccard_prefix_join: threshold must be in (0, 1]")
    tok = ensure_parallelism(docs).select(
        F.col(id_col).alias("id"), F.explode(F.array_distinct(T.tokens(text_col))).alias("tok")
    )
    dfreq = tok.groupBy("tok").agg(F.count("*").alias("_df"))
    # per-doc token array in global (df, tok) order + set size; this table
    # is both the prefix source and the verification payload
    arr = (
        tok.join(dfreq, "tok")
        .groupBy("id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_df", "tok"))), lambda s: s["tok"]
            ).alias("toks")
        )
        .withColumn("sz", F.size("toks"))
        .withColumn(
            "prefix",
            # the 1e-9 guards the ceil against float error in t·sz landing
            # a hair ABOVE an integer boundary — error can then only
            # LENGTHEN the prefix (extra candidates), never shorten it
            # (lost pairs), so the pruning stays provably lossless
            F.slice(
                F.col("toks"),
                1,
                F.col("sz")
                - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9)).cast("int")
                + 1,
            ),
        )
    )
    pre = arr.select("id", "sz", F.explode("prefix").alias("tok"))
    a, b = pre.alias("a"), pre.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.id") < F.col("b.id"))
            # length filter: J >= t forces t*max(sz) <= min(sz); same
            # epsilon so float error only weakens the filter, never
            # over-prunes a boundary-legit pair
            & (F.col("b.sz") >= F.ceil(F.lit(threshold) * F.col("a.sz") - F.lit(1e-9)))
            & (F.col("a.sz") >= F.ceil(F.lit(threshold) * F.col("b.sz") - F.lit(1e-9))),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    va = arr.select(F.col("id").alias("id_a"), F.col("toks").alias("_ta"), F.col("sz").alias("_sa"))
    vb = arr.select(F.col("id").alias("id_b"), F.col("toks").alias("_tb"), F.col("sz").alias("_sb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("_inter", F.size(F.array_intersect("_ta", "_tb")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("_inter").cast("double")
                / (F.col("_sa") + F.col("_sb") - F.col("_inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def cosine_allpairs_tfidf(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Sparse all-pairs cosine similarity over TF-IDF vectors via an
    inverted-index join — the *weighted* sibling of the Jaccard joins: two
    documents are near-dups when their unit TF-IDF vectors' dot product
    (= cosine) clears ``threshold``.

    Plan: tokens → per-(doc, term) tf → idf = ln(N/df) → L2-normalize each
    doc's weight vector (one window over the doc partition, no second
    scan) → self-equi-join ON THE TERM (hash-partitioned — same-term
    postings only, never a cross join) → partial dot products sum per pair
    map-side into one (id_a, id_b) shuffle.

    The join cost is Σ df(term)² — identical structure to
    :func:`ngram_jaccard_pairs`, with the same ``max_df`` lever: terms in
    more than ``max_df`` documents are dropped from the vector space
    BEFORE normalization (a consistent cosine over the informative-term
    subspace; stopword-ish terms carry ~zero idf weight anyway, so the cap
    changes little while removing the quadratic hot-posting cost).

    Returns (id_a, id_b, cosine) with id_a < id_b, cosine ≥ threshold
    (compared after round(6)). idf uses ln; df counts documents.
    """
    tok = ensure_parallelism(docs).select(
        F.col(id_col).alias("id"), F.explode(T.tokens(text_col)).alias("tok")
    )
    tf = tok.groupBy("id", "tok").agg(F.count("*").alias("_tf"))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("_df"))
    if max_df is not None:
        dfreq = dfreq.filter(F.col("_df") <= max_df)
    n_docs = docs.select(F.count("*").alias("_n"))
    w = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "_w",
            F.col("_tf").cast("double")
            * F.log(F.col("_n").cast("double") / F.col("_df").cast("double")),
        )
    )
    norm = Window.partitionBy("id")
    unit = w.withColumn("_u", F.col("_w") / F.sqrt(F.sum(F.col("_w") * F.col("_w")).over(norm)))
    a, b = unit.alias("a"), unit.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.round(F.sum(F.col("a._u") * F.col("b._u")), 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def blocked_linkage(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list[str],
    max_dist: int = 2,
) -> DataFrame:
    """Entity-resolution record linkage with explicit BLOCKING: candidate
    pairs are generated only WITHIN a block (equi-join on ``block_cols``),
    then verified by banded Levenshtein ≤ ``max_dist`` on ``name_col``.
    Returns (id_a, id_b, dist) with id_a < id_b, plus the block columns.

    Blocking is the classic linkage scale move (Fellegi–Sunter pipelines,
    dedupe.io, Splink all do it): the O(N²) comparison space collapses to
    Σ|block|² — choose block keys every true match must share (region,
    zip, phonetic code). Pairs split across blocks are NOT compared; the
    block key is part of the operator's contract, which is what makes it
    oracle-checkable rather than heuristic.

    Two CPU guards before the edit distance runs (same discipline as
    :func:`edit_distance_verify`): a length-band prefilter
    (``|len_a − len_b| ≤ max_dist`` is necessary), and Spark's thresholded
    ``levenshtein(a, b, cap)`` — O(len·cap) banded, early-exit −1.
    A skewed mega-block is the failure mode at scale: profile block sizes
    first (``operators/skew.skew_profile``) and refine the key (add a
    second column, a name prefix, a soundex) until blocks are bounded.
    """
    cols = [F.col(c) for c in block_cols]
    # the probe side of the (broadcast) block join pays Σ|block|²
    # levenshteins — compute per PAIR, not per input byte; spread it to
    # cluster width so a small scan split cannot serialize the verify
    # stage (r13, guide §2.6; no-op when the scan already splits ≥ cores)
    a = ensure_parallelism(
        df.select(*cols, F.col(id_col).alias("id_a"), F.col(name_col).alias("_na"))
    )
    b = df.select(
        *[F.col(c).alias(f"_b_{c}") for c in block_cols],
        F.col(id_col).alias("id_b"),
        F.col(name_col).alias("_nb"),
    )
    cond = (F.col("id_a") < F.col("id_b"))
    for c in block_cols:
        cond = cond & (F.col(c) == F.col(f"_b_{c}"))
    return (
        a.join(b, cond)
        .filter(
            F.abs(F.length("_na") - F.length("_nb")) <= F.lit(max_dist)
        )
        .withColumn("dist", F.levenshtein("_na", "_nb", max_dist))
        .filter(F.col("dist") >= 0)
        .select(*block_cols, "id_a", "id_b", "dist")
    )


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """ALL pairs within Hamming distance ``max_hamming`` of each other's
    SimHash — found WITHOUT an all-pairs join, losslessly, by the
    pigeonhole multi-index (the production simhash-dedup layout from
    Manku et al., WWW'07 "Detecting near-duplicates for web crawling"):
    split the ``bits``-bit signature into ``max_hamming + 1`` blocks; two
    signatures within distance t must agree EXACTLY on at least one block
    (t differing bits cannot touch all t+1 blocks), so an equi-join per
    block enumerates a candidate superset and a JVM popcount verifies the
    true distance. Like :func:`jaccard_prefix_join`, the pruning is
    provable — the oracle is the literal O(N²) definition and must match
    row-for-row.

    Cost: Σ per-block bucket² — random signatures spread across 2^(bits/
    (t+1)) buckets per block; near-constant text (one mega-bucket) is the
    skew case, handled the usual way (drop or salt buckets past a cap —
    such buckets are all-duplicates anyway). Returns
    (id_a, id_b, hamming) with id_a < id_b.
    """
    n_blocks = max_hamming + 1
    width = (bits + n_blocks - 1) // n_blocks
    sig = simhash(df, text_col, id_col, bits)
    mask = (1 << width) - 1
    blocks = sig.select(
        F.col(id_col).alias("id"),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block_idx"),
                        F.shiftright(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("block_val"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("b"),
    ).select("id", "simhash", "b.block_idx", "b.block_val")
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("_sa"),
            F.col("b.simhash").alias("_sb"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def segment_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_count: int = 2,
) -> DataFrame:
    """C4-style corpus-level segment dedup (Raffel et al. 2020 remove
    duplicated three-sentence spans; here the "sentence" is a fixed
    ``n``-token segment, the right granularity for unpunctuated text):
    split each doc into consecutive non-overlapping n-token segments,
    count each segment text corpus-wide, and drop every occurrence of a
    segment seen >= ``min_count`` times EXCEPT the first (lowest
    (doc, seg_idx)) — the canonical copy survives, boilerplate repeats
    vanish. [absent in reference — north-star extension]

    Differs from :func:`duplicate_spans` in what it produces: that op
    SCORES docs by duplicated-window fraction (overlapping windows,
    detection); this one EDITS the corpus (partitioned segments, exactly
    one surviving copy) — the C4 preprocessing step itself.

    Scale shape: segment fan-out is JVM `transform` over the token array
    (no Python); global counts + first-occurrence winner come from ONE
    word-count-shaped groupBy on the segment text (map-side partials);
    the keep-filter is a hash equi-join back; per-doc reassembly is one
    keyed collect_list bounded by the doc's own segment count. At 100 TB
    swap the segment-text shuffle key for its 128-bit md5 (same plan,
    ~10× fewer shuffled bytes; collisions then trade exactness like C4's
    own hashing). First-occurrence encoding assumes seg_idx < 1e6
    (a 6M-token doc — far past any sane doc-length cap).

    Returns (id, n_segs, n_kept, kept_md5) where kept_md5 fingerprints
    the space-joined surviving segments in original order.
    """
    toks = ensure_parallelism(
        docs.select(F.col(id_col), T.tokens(text_col).alias("_t"))
    )
    n_seg_expr = F.ceil(F.size("_t") / F.lit(float(n))).cast("int")
    segs = toks.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(n_seg_expr, F.lit(1)) - 1),
                lambda i: F.concat_ws(" ", F.slice("_t", i * n + 1, n)),
            )
        ).alias("seg_idx", "seg"),
    )
    segs = segs.withColumn(
        "_pos", F.col(id_col).cast("bigint") * F.lit(1_000_000) + F.col("seg_idx")
    )
    stats = segs.groupBy("seg").agg(
        F.count("*").alias("_cnt"), F.min("_pos").alias("_first")
    )
    keep = segs.join(stats, "seg").filter(
        (F.col("_cnt") < min_count) | (F.col("_pos") == F.col("_first"))
    )
    totals = segs.groupBy(id_col).agg(F.count("*").cast("bigint").alias("n_segs"))
    kept = keep.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("seg_idx", "seg"))),
                    lambda s: s["seg"],
                ),
            )
        ).alias("kept_md5"),
    )
    empty_md5 = F.md5(F.lit(""))
    return totals.join(kept, id_col, "left").select(
        F.col(id_col),
        "n_segs",
        F.coalesce("n_kept", F.lit(0).cast("bigint")).alias("n_kept"),
        F.coalesce("kept_md5", empty_md5).alias("kept_md5"),
    )


def group_minhash_similarity(
    docs: DataFrame,
    by: str = "source",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """CORPUS-level near-duplicate detection: estimated shingle-set Jaccard
    between whole GROUPS of documents (sources / domains / snapshots) — the
    mirror-site and re-crawled-domain detector that doc-level pair finding
    cannot see (two mirrors share few exact docs after boilerplate churn,
    but their unioned shingle sets are nearly identical).

    A group's signature is the MinHash of the UNION of its documents'
    shingle sets — exactly :func:`minhash_signature_long` keyed by ``by``
    instead of doc_id: min is insensitive to per-doc duplication, and the
    map-side partial min keeps the low-cardinality groupBy key from
    funneling raw shingle rows anywhere (the shuffle carries ≤
    groups × num_hashes partial rows per map task). The pairwise compare
    is collect-per-hash + in-JVM pair explosion (the same
    one-pipeline trick as :func:`minhash_lsh_pairs` — a signatures
    self-join would plan the whole shingle→minhash computation twice);
    each collected list is |groups| entries, metric-sized by contract. At
    web scale (millions of domains) replace the pairwise compare with
    :func:`banded_signatures` over these same group signatures; the
    signature construction above is already the scalable part.

    Returns (grp_a, grp_b, n_agree, est_jaccard) for grp_a < grp_b, where
    est_jaccard = n_agree / num_hashes (the standard unbiased collision
    estimator). [absent in reference — north-star extension]
    """
    sig = minhash_signature_long(
        docs.select(by, text_col),
        text_col=text_col,
        id_col=by,
        num_hashes=num_hashes,
        shingle_n=shingle_n,
    )
    per_hash = sig.groupBy("hash_idx").agg(
        F.collect_list(
            F.struct(F.col(by).alias("g"), F.col("min_hash").alias("h"))
        ).alias("_gs")
    )
    return (
        per_hash.select(F.explode("_gs").alias("a"), "_gs")
        .select("a", F.explode("_gs").alias("b"))
        .filter(F.col("a.g") < F.col("b.g"))
        .groupBy(F.col("a.g").alias("grp_a"), F.col("b.g").alias("grp_b"))
        .agg(
            F.sum(
                F.when(F.col("a.h") == F.col("b.h"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_agree")
        )
        .select(
            "grp_a",
            "grp_b",
            "n_agree",
            F.round(
                F.col("n_agree").cast("double") / F.lit(float(num_hashes)), 6
            ).alias("est_jaccard"),
        )
    )


def golden_records(
    records: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "component",
    mode_cols: list[str] | None = None,
    max_cols: list[str] | None = None,
) -> DataFrame:
    """Survivorship / golden-record merge — the step AFTER record linkage
    (:func:`blocked_linkage` → :func:`connected_components`) that MDM and
    entity-resolution pipelines run: collapse each duplicate cluster to
    ONE canonical record with per-field survivorship rules. Rules here:
    ``mode_cols`` keep the most frequent value (ties → smallest, so the
    merge is deterministic on any engine); ``max_cols`` keep the maximum;
    the canonical id is the cluster's minimum member id.
    [absent in reference — north-star extension]

    Scale shape: one equi-join of the label vector into the records, then
    one cluster-keyed agg for the max/count fields plus one
    (cluster, value)-keyed count + min_by argmax per mode field — every
    shuffle is keyed by the high-cardinality cluster id, never a funnel;
    mode tables are bounded by Σ distinct values per cluster.

    Returns (cluster, canonical_id, n_members, <mode cols>, <max cols>).
    """
    mode_cols = mode_cols or []
    max_cols = max_cols or []
    j = records.join(
        labels.select(F.col(id_col).alias("_gid"), F.col(cluster_col).alias("_c")),
        records[id_col] == F.col("_gid"),
    )
    base = j.groupBy(F.col("_c").alias("cluster")).agg(
        F.min(id_col).cast("bigint").alias("canonical_id"),
        F.count("*").cast("bigint").alias("n_members"),
        *[F.max(c).alias(c) for c in max_cols],
    )
    out = base
    for c in mode_cols:
        pick = (
            j.groupBy(F.col("_c").alias("cluster"), F.col(c))
            .agg(F.count("*").alias("_n"))
            .groupBy("cluster")
            .agg(
                F.min_by(
                    c, F.struct((-F.col("_n")).alias("a"), F.col(c).alias("b"))
                ).alias(c)
            )
        )
        out = out.join(pick, "cluster")
    return out
