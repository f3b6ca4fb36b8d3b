"""Corpus-level text analysis operators (TF-IDF).

[absent in reference — north-star extension] Complements the per-document
scalar functions in :mod:`semantic_index_spark.functions.text` with the
corpus-statistics operator a retrieval / training-data pipeline needs.

Scale shape: explode → two groupBys (both map-side partially aggregated) →
one equi-join on the token key → per-doc window over (doc, token) rows.
Every shuffle is hash-partitioned on a high-cardinality key (token or
doc_id); nothing is ever broadcast except the single-row corpus count.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from semantic_index_spark.session import collect_bounded
from pyspark.sql import DataFrame, Window

from semantic_index_spark.functions import text as T


def register_tokenize_udtf(spark, name: str = "tokenize_pos"):
    """Python UDTF (user-defined TABLE function, Spark 3.5+): one input
    text row → many (pos, tok) output rows, usable in SQL as a LATERAL
    table function. Completes the UDF triad alongside the scalar
    pandas_udf embedder and the applyInPandas grouped-map centroid.
    Arrow-batched like all Python UDxs; rows fan out executor-side."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, tok string")
    class TokenizeWithPositions:
        def eval(self, text: str):
            # Mirrors split(lower(trim(text)), '\s+') so results agree with
            # T.tokens and the SQL oracle: NULL → no rows; empty/whitespace
            # text → one empty token; re.ASCII makes \s match Java's, not
            # Python's Unicode-wide class (str.split would eat NBSP).
            import re

            if text is None:
                return
            for i, t in enumerate(re.split(r"\s+", text.strip(" ").lower(), flags=re.ASCII)):
                yield (i, t)

    spark.udtf.register(name, TokenizeWithPositions)
    return TokenizeWithPositions


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 50,
    overlap: int = 10,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the standard
    pre-embedding step for long documents. Pure JVM expressions
    (sequence → explode → slice on the token array), no Python in the path;
    the explode fans out ~len/step×, so inputs are re-parallelized first.
    Returns (id, chunk_idx, chunk_text, n_tokens); chunk i covers tokens
    [i·step, i·step + chunk_tokens) with step = chunk_tokens - overlap;
    documents shorter than a chunk yield exactly one chunk."""
    from semantic_index_spark.operators.dedup import ensure_parallelism

    if chunk_tokens <= 0 or overlap < 0 or overlap >= chunk_tokens:
        raise ValueError(
            f"chunk_documents: need 0 <= overlap < chunk_tokens, "
            f"got chunk_tokens={chunk_tokens} overlap={overlap}"
        )
    step = chunk_tokens - overlap
    base = ensure_parallelism(docs).select(
        F.col(id_col), T.tokens(text_col).alias("_toks")
    ).withColumn(
        "_nc",
        F.greatest(
            F.ceil((F.size("_toks") - F.lit(overlap)).cast("double") / F.lit(step)),
            F.lit(1),
        ).cast("int"),
    )
    sliced = F.slice("_toks", F.col("chunk_idx") * step + 1, chunk_tokens)
    return (
        base.select(
            F.col(id_col), F.explode(F.sequence(F.lit(0), F.col("_nc") - 1)).alias("chunk_idx"), "_toks"
        )
        .select(
            F.col(id_col),
            F.col("chunk_idx"),
            F.concat_ws(" ", sliced).alias("chunk_text"),
            F.size(sliced).alias("n_tokens"),
        )
    )


def heavy_hitters(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 100,
) -> DataFrame:
    """Corpus-wide frequent terms: every token appearing ≥ ``min_count``
    times, with its total count and document frequency — the vocabulary /
    stopword-mining primitive. Exact, not sketched: explode → ONE groupBy
    on the token (map-side partial counts collapse each partition's
    duplicates before the shuffle, so the shuffle carries ≤ |vocab| rows per
    partition regardless of corpus size — the word-count shape that scales
    linearly). ``HAVING`` prunes before the final projection."""
    from semantic_index_spark.operators.dedup import ensure_parallelism

    tok = ensure_parallelism(docs).select(
        F.col(id_col), F.explode(T.tokens(text_col)).alias("tok")
    )
    return (
        tok.groupBy("tok")
        .agg(
            F.count("*").alias("total_count"),
            F.count_distinct(id_col).alias("doc_freq"),
        )
        .filter(F.col("total_count") >= min_count)
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 lexical retrieval: top-``k`` documents for a bag of query terms
    (Robertson/Spärck Jones; the Lucene-style non-negative idf
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``). Returns
    (id, bm25) ordered by (bm25 DESC, id) — rounded score in the sort so
    the cutoff is engine-portable.

    Scale shape: one explode, with the query-term membership filter applied
    DIRECTLY on the exploded tokens — corpus rows containing no query term
    die before any shuffle, so the per-(doc, term) aggregation is over the
    matching slice only, not the corpus. Document length rides along with
    the explode (``first(doclen)``) — no corpus self-join to recover it.
    df(term) is ≤ |query| rows → broadcast; (N, avgdl) is one row →
    broadcast. Final top-k is TakeOrderedAndProject, never a global sort.
    """
    from semantic_index_spark.operators.dedup import ensure_parallelism

    if not query_terms:
        raise ValueError("bm25_topk: query_terms must be non-empty")
    base = ensure_parallelism(docs).select(
        F.col(id_col), T.tokens(text_col).alias("_toks")
    ).select(id_col, F.size("_toks").alias("doclen"), "_toks")
    stats = base.agg(
        F.count("*").alias("n_docs"),
        F.avg("doclen").alias("avgdl"),
    )
    tf = (
        base.select(id_col, "doclen", F.explode("_toks").alias("tok"))
        .filter(F.col("tok").isin(query_terms))
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("tf"), F.first("doclen").alias("doclen"))
    )
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("doclen") / F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(stats))
        .withColumn("_s", idf * F.col("tf") * F.lit(k1 + 1.0) / denom)
    )
    return (
        scored.groupBy(id_col)
        .agg(F.round(F.sum("_s"), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )


def bpe_pair_counts(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 30,
) -> DataFrame:
    """One BPE-style merge iteration at corpus scale: count every ADJACENT
    token pair and return the ``top_n`` most frequent — the inner statistic
    of byte-pair-encoding vocabulary training (the argmax pair is the next
    merge). Pairs are built JVM-side with an index lambda over the token
    array (no posexplode + self-join); then the word-count shape: explode →
    ONE map-side-combined groupBy. Deterministic (count DESC, pair ASC)
    cutoff → TakeOrderedAndProject. Returns (pair, n_pairs)."""
    from semantic_index_spark.operators.dedup import ensure_parallelism

    pairs = F.expr(
        f"transform(slice(_toks, 1, greatest(size(_toks) - 1, 0)), "
        f"(x, i) -> concat(x, ' ', _toks[i + 1]))"
    )
    return (
        ensure_parallelism(docs)
        .select(T.tokens(text_col).alias("_toks"))
        .select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), F.asc("pair"))
        .limit(top_n)
    )


def contamination_check(
    train: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Train/eval contamination audit: for each eval document, the fraction
    of its distinct word ``n``-gram shingles that appear ANYWHERE in the
    training corpus — the standard benchmark-leakage check run before a
    training set ships. Returns (id, n_shingles, n_matched, contamination).

    Scale shape: both sides shingle → hash (portable md5-derived BIGINT) →
    distinct, so the join is a hash equi-join on a 64-bit key between two
    deduplicated sets — the train side is distinct'd to one row per shingle
    (no hot-key fanout), the eval side to one row per (doc, shingle). The
    shuffle is keyed on the shingle hash (high cardinality, near-uniform).
    Never an array-overlap theta-join."""
    from semantic_index_spark.operators.dedup import ensure_parallelism

    ev = (
        ensure_parallelism(eval_docs)
        .select(F.col(id_col), F.explode(T.shingles(text_col, n)).alias("_sh"))
        .select(id_col, T.md5_bigint("_sh").alias("_h"))
        .distinct()
    )
    tr = (
        ensure_parallelism(train)
        .select(F.explode(T.shingles(text_col, n)).alias("_sh"))
        .select(T.md5_bigint("_sh").alias("_h"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        ev.join(tr, "_h", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("bigint").alias("n_matched"),
        )
        .withColumn(
            "contamination",
            F.round(F.col("n_matched") / F.col("n_shingles").cast("double"), 6),
        )
    )


def tfidf_top_terms(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 3,
) -> DataFrame:
    """Top-``top_n`` TF-IDF terms per document:
    ``tfidf = tf(doc, term) * ln(N / df(term))``, deterministic
    (tfidf DESC, term ASC) ranking. Returns (id, tok, tfidf, rnk).

    The document-frequency side is NOT forced broadcast: vocabulary grows
    with the corpus, so the token join stays a hash shuffle (AQE upgrades
    it to broadcast when the vocab happens to be small)."""
    from semantic_index_spark.operators.dedup import ensure_parallelism

    tok = ensure_parallelism(docs).select(
        F.col(id_col), F.explode(T.tokens(text_col)).alias("tok")
    )
    tf = tok.groupBy(id_col, "tok").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_n)
        .select(id_col, "tok", "tfidf", "rnk")
    )


def term_label_pmi(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "lang",
    min_count: int = 5,
) -> DataFrame:
    """Pointwise mutual information between terms and document labels —
    the classic feature-selection / corpus-characterization statistic
    ("which words are distinctive of this language / source / topic"):

      pmi(t, l) = ln( P(t, l) / (P(t)·P(l)) )
                = ln( n_tl · N / (n_t · n_l) )

    over document-level presence counts (a term counts once per document,
    so a single spammy doc can't dominate a term's association).

    Scale: one explode of distinct per-doc terms → ONE shuffle on
    (term, label) for the joint counts; the term marginal is a window sum
    over the term partition of that (vocab×labels)-sized result — no second
    pass over the corpus; the |labels|-row marginal and the 1-row total
    broadcast. ``min_count`` floors n_tl so the tail of hapax terms never
    reaches the output (and the PMI estimate isn't noise). Returns
    (label, tok, n_tl, pmi)."""
    from semantic_index_spark.operators.dedup import ensure_parallelism

    pairs = ensure_parallelism(docs).select(
        F.col(label_col).alias("label"),
        F.col(id_col),
        F.explode(F.array_distinct(T.tokens(text_col))).alias("tok"),
    )
    joint = pairs.groupBy("tok", "label").agg(F.count("*").alias("n_tl"))
    # term marginal from the joint table itself: every doc has exactly one
    # label, so Σ_l n_tl = n_t — a window over the tok partition, not a
    # second corpus scan
    joint = joint.withColumn("n_t", F.sum("n_tl").over(Window.partitionBy("tok")))
    lbl = docs.groupBy(F.col(label_col).alias("label")).agg(
        F.count("*").alias("n_l")
    )
    total = docs.select(F.count("*").alias("n_docs"))
    return (
        joint.filter(F.col("n_tl") >= min_count)
        .join(F.broadcast(lbl), "label")
        .crossJoin(F.broadcast(total))
        .select(
            "label",
            "tok",
            F.col("n_tl").cast("bigint").alias("n_tl"),
            F.round(
                F.log(
                    F.col("n_tl").cast("double")
                    * F.col("n_docs").cast("double")
                    / (F.col("n_t").cast("double") * F.col("n_l").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
) -> DataFrame:
    """Gopher-style document quality audit (Rae et al. 2021, appendix A1):
    one boolean column per rule plus the conjunction, alongside the raw
    measurements, so a pipeline can both filter and explain WHY a document
    was dropped. Rules: word-count band, mean-word-length band,
    symbol-to-word ratio (# and ellipsis), alphabetic-word fraction,
    required-stopword hits, bullet-line and ellipsis-line fractions.

    Everything is per-row JVM expression work (split + higher-order array
    functions) — no shuffle, no Python; at 100 TB this is a map-only stage
    pipelined into the scan. [absent in reference — north-star extension]"""
    from semantic_index_spark.operators.dedup import ensure_parallelism

    text = F.col(text_col)
    toks = T.tokens(text_col)
    lines = F.split(text, "\n")
    n_words = F.size(toks).cast("bigint")
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    mean_len = F.round(sum_len.cast("double") / n_words, 6)
    n_hash = F.length(text) - F.length(F.regexp_replace(text, "#", ""))
    n_ellipsis = (
        F.length(text) - F.length(F.regexp_replace(text, r"\.\.\.", ""))
    ) / F.lit(3)
    symbol_ratio = F.round((n_hash + n_ellipsis).cast("double") / n_words, 6)
    alpha_frac = F.round(
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("double") / n_words, 6
    )
    stop_hits = sum(
        F.when(F.array_contains(toks, w), 1).otherwise(0) for w in GOPHER_STOPWORDS
    ).cast("bigint")
    n_lines = F.size(lines)
    bullet_frac = F.round(
        F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]"))).cast("double")
        / n_lines,
        6,
    )
    ellipsis_frac = F.round(
        F.size(F.filter(lines, lambda l: l.rlike(r"\.\.\.\s*$"))).cast("double")
        / n_lines,
        6,
    )
    out = ensure_parallelism(docs).select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_frac.alias("alpha_frac"),
        stop_hits.alias("stop_hits"),
        bullet_frac.alias("bullet_frac"),
        ellipsis_frac.alias("ellipsis_frac"),
    )
    rules = out.select(
        "*",
        ((F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)).alias(
            "ok_word_count"
        ),
        (
            (F.col("mean_word_len") >= min_mean_len)
            & (F.col("mean_word_len") <= max_mean_len)
        ).alias("ok_mean_len"),
        (F.col("symbol_ratio") <= max_symbol_ratio).alias("ok_symbol"),
        (F.col("alpha_frac") >= min_alpha_frac).alias("ok_alpha"),
        (F.col("stop_hits") >= min_stop_hits).alias("ok_stops"),
        (F.col("bullet_frac") <= max_bullet_frac).alias("ok_bullets"),
        (F.col("ellipsis_frac") <= max_ellipsis_frac).alias("ok_ellipsis"),
    )
    return rules.withColumn(
        "pass_gopher",
        F.col("ok_word_count")
        & F.col("ok_mean_len")
        & F.col("ok_symbol")
        & F.col("ok_alpha")
        & F.col("ok_stops")
        & F.col("ok_bullets")
        & F.col("ok_ellipsis"),
    )


def ngram_lm_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 1.0,
) -> DataFrame:
    """CCNet-style corpus-LM fluency score: train an add-k-smoothed bigram
    model ON the corpus itself, then score every document by its average
    negative log-likelihood under that model (low = typical text, high =
    outlier / noise). The standard cheap perplexity proxy for corpus
    filtering when a real LM is too expensive to run over 100 TB.

    Scale shape: one explode into bigrams → two word-count aggregations
    (map-side partial, shuffle carries ≤|vocab| rows per partition) → two
    hash equi-joins of the corpus bigrams against those counts (never
    broadcast: vocabulary grows with the corpus) → one groupBy(doc). Per-
    bigram log-probs are fixed-pointed to 1e-6 BIGINTs before summing so
    the aggregate is EXACT integer arithmetic — summation order cannot
    break cross-engine parity. The per-doc outputs stay exact too:
    ``sum_nll_micro`` (BIGINT micro-nats) alongside the convenience
    ``avg_nll`` double — a rounded average alone would re-introduce
    engine-dependent float ties exactly at the rounding boundary (observed
    at sf0.1: 3.4140895 rounds differently across engines).
    [absent in reference — north-star extension]"""
    from semantic_index_spark.operators.dedup import ensure_parallelism

    base = ensure_parallelism(docs).select(
        F.col(id_col), T.tokens(text_col).alias("__t")
    )
    pairs = base.filter(F.size("__t") >= 2).select(
        id_col,
        F.explode(
            F.expr(
                "transform(slice(__t, 1, size(__t) - 1),"
                " (w, i) -> struct(w AS w1, __t[i + 1] AS w2))"
            )
        ).alias("bg"),
    ).select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    uni = base.select(F.explode("__t").alias("w1"))
    c2 = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = uni.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = uni.select(F.count_distinct("w1").alias("v"))
    scored = (
        pairs.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            id_col,
            F.floor(
                F.log((F.col("c2") + F.lit(float(k))) / (F.col("c1") + F.lit(float(k)) * F.col("v")))
                * F.lit(1e6)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        (-F.sum("lp")).cast("bigint").alias("sum_nll_micro"),
        F.round(
            (-F.sum("lp")).cast("double") / F.lit(1e6) / F.count("*"), 6
        ).alias("avg_nll"),
    )


def heavy_hitters_by(
    docs: DataFrame,
    by: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 10,
    salt_n: int = 16,
) -> DataFrame:
    """Per-GROUP frequent terms: the ``top_n`` most frequent tokens within
    each ``by`` group (per-domain vocabularies, per-source boilerplate
    mining) with deterministic (count DESC, token ASC) tie-break.

    Two word-count-shaped stages: explode → ONE map-side-combined groupBy
    on (group, token) — the shuffle carries ≤ |group|·|vocab| partial rows
    — then the skew-safe two-stage cap
    (:func:`semantic_index_spark.operators.skew.capped_top_n`) picks each
    group's top n WITHOUT funneling a hot group's whole vocabulary through
    one reducer. Returns (by, tok, n, df_docs) — term count and document
    frequency per group."""
    from semantic_index_spark.operators.dedup import ensure_parallelism
    from semantic_index_spark.operators.skew import capped_top_n

    tok = ensure_parallelism(docs).select(
        F.col(by), F.col(id_col), F.explode(T.tokens(text_col)).alias("tok")
    )
    counts = tok.groupBy(by, "tok").agg(
        F.count("*").alias("n"),
        F.countDistinct(id_col).alias("df_docs"),
    )
    return capped_top_n(
        counts, [by], [F.col("n").desc(), F.col("tok").asc()], n=top_n, salt_n=salt_n
    )


def feature_hashing(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009): map tokens into a fixed
    ``dim``-bucket feature space with a portable hash — unbounded
    vocabulary becomes a fixed-width sparse vector with NO vocabulary
    table, no fit pass, and no train/serve skew (the hash IS the
    vocabulary). Long-form output (id, bucket, n) — the sparse layout
    downstream trainers consume; densify per partition if a model needs
    arrays. One explode + one partial-agg groupBy."""
    from semantic_index_spark.operators.dedup import ensure_parallelism

    return (
        ensure_parallelism(docs)
        .select(F.col(id_col), F.explode(T.tokens(text_col)).alias("tok"))
        .withColumn("bucket", F.pmod(T.md5_bigint("tok", salt="fh:"), F.lit(dim)).cast("int"))
        .groupBy(id_col, "bucket")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def negative_sampling_weights(
    docs: DataFrame,
    text_col: str = "text",
    power: float = 0.75,
    top_n: int = 100,
) -> DataFrame:
    """word2vec-style negative-sampling distribution: unigram counts
    raised to ``power`` (0.75 flattens the head so frequent words don't
    monopolize the negatives), normalized to probabilities. The word-count
    shape — explode, partial-agg, one |vocab| shuffle — plus a bounded
    top-n (count DESC, token ASC) so the emitted table is the sampling
    head a trainer actually materializes. Returns (tok, n, prob)."""
    from semantic_index_spark.operators.dedup import ensure_parallelism

    counts = (
        ensure_parallelism(docs)
        .select(F.explode(T.tokens(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    total = counts.agg(
        F.sum(F.pow(F.col("n").cast("double"), F.lit(power))).alias("_z")
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "tok",
            "n",
            F.round(
                F.pow(F.col("n").cast("double"), F.lit(power)) / F.col("_z"), 6
            ).alias("prob"),
        )
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(top_n)
    )


def word_cooccurrence_pmi(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 2,
    min_pairs: int = 5,
) -> DataFrame:
    """Distributional co-occurrence PMI (the GloVe/word2vec training
    statistic): for token pairs within ±``window`` positions,
    pmi = ln(n_ab·T / (n_a·n_b)) over co-occurrence totals. The pair
    enumeration never self-joins the corpus: each token row explodes to
    its ≤``window`` FORWARD offsets in-JVM (backward pairs are the same
    pairs seen from the other side; pairs are canonicalized a ≤ b), so
    the fan-out is exactly window× the token count. Marginals come from a
    window-sum over the pair table — one corpus scan total. ``min_pairs``
    floors the tail. Returns (tok_a, tok_b, n_ab, pmi)."""
    from semantic_index_spark.operators.dedup import ensure_parallelism

    toks = ensure_parallelism(docs).select(
        F.col(id_col), F.posexplode(T.tokens(text_col)).alias("pos", "tok")
    )
    ahead = toks.select(
        F.col(id_col),
        F.col("pos"),
        F.explode(
            F.sequence(F.col("pos") + 1, F.col("pos") + window)
        ).alias("pos2"),
        F.col("tok").alias("t1"),
    )
    other = toks.select(
        F.col(id_col).alias("_id2"), F.col("pos").alias("pos2"), F.col("tok").alias("t2")
    )
    pairs = (
        ahead.join(
            other,
            (F.col(id_col) == F.col("_id2")) & (ahead["pos2"] == other["pos2"]),
        )
        .select(
            F.least("t1", "t2").alias("tok_a"),
            F.greatest("t1", "t2").alias("tok_b"),
        )
        .groupBy("tok_a", "tok_b")
        .agg(F.count("*").cast("bigint").alias("n_ab"))
    )
    # marginals: how often each token participates in ANY pair — derived
    # from the pair table itself (window sums over each side), then the
    # grand total; no second corpus pass
    tot = pairs.agg(F.sum("n_ab").alias("_t"))
    # a token's participation = pairs where it is side a (+ side b): two
    # window sums re-keyed on each side
    side_a = pairs.select(F.col("tok_a").alias("tok"), F.col("n_ab"))
    side_b = pairs.select(F.col("tok_b").alias("tok"), F.col("n_ab"))
    marg = (
        side_a.unionByName(side_b)
        .groupBy("tok")
        .agg(F.sum("n_ab").cast("bigint").alias("n_t"))
    )
    ma = marg.select(F.col("tok").alias("tok_a"), F.col("n_t").alias("_na"))
    mb = marg.select(F.col("tok").alias("tok_b"), F.col("n_t").alias("_nb"))
    return (
        pairs.filter(F.col("n_ab") >= min_pairs)
        .join(ma, "tok_a")
        .join(mb, "tok_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            F.round(
                F.log(
                    F.col("n_ab").cast("double")
                    * F.col("_t").cast("double")
                    / (F.col("_na").cast("double") * F.col("_nb").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )


def zipf_fit(
    docs: DataFrame,
    text_col: str = "text",
    by: str = "lang",
    max_rank: int = 1000,
    id_col: str = "doc_id",
) -> DataFrame:
    """Zipf's-law fit per corpus slice — the corpus-health statistic:
    regress ln(freq) on ln(rank) over the top-``max_rank`` types and
    report the slope (natural text ≈ −1; templated/boilerplate corpora
    flatten toward 0, keyword-stuffed spam steepens) plus the Pearson r
    of the fit (how Zipfian the distribution is at all). The
    log-log-linear check is the classic screen for synthetic or
    machine-generated text slipping into a training corpus.
    [absent in reference — north-star extension]

    Shape: ONE (slice, token) word-count groupBy (map-side partials);
    ranking is a window over the |vocab_slice|-row count table (bounded
    by vocabulary, not corpus — and capped at max_rank so a garbage
    slice with unbounded vocab can't blow up the window); the fit itself
    is `regr_slope`/`corr` built-ins over mergeable sufficient
    statistics. Deterministic rank tie-break (count DESC, token ASC).
    Returns (by, n_types, zipf_slope, zipf_r).
    """
    counts = (
        docs.select(F.col(by), F.explode(T.tokens(text_col)).alias("_tok"))
        .groupBy(by, "_tok")
        .agg(F.count("*").alias("_cnt"))
    )
    w = Window.partitionBy(by).orderBy(F.desc("_cnt"), F.asc("_tok"))
    ranked = counts.withColumn("_rank", F.row_number().over(w)).filter(
        F.col("_rank") <= max_rank
    )
    lf = F.log(F.col("_cnt").cast("double"))
    lr = F.log(F.col("_rank").cast("double"))
    # explicit covariance forms, not regr_slope/corr: ANSI mode makes corr
    # THROW on a zero-variance group (a perfectly flat distribution —
    # exactly the degenerate corpus this op exists to flag); nullif makes
    # both stats total (slope 0, r NULL) and the oracle mirrors the same
    # formulas
    slope = F.covar_pop(lf, lr) / F.nullif(F.var_pop(lr), F.lit(0.0))
    r = F.covar_samp(lf, lr) / F.nullif(
        F.stddev_samp(lf) * F.stddev_samp(lr), F.lit(0.0)
    )
    return ranked.groupBy(by).agg(
        F.count("*").cast("bigint").alias("n_types"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(r, 6).alias("zipf_r"),
    )


def dsir_weights(
    docs: DataFrame,
    target_cond,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
    alpha: float = 1.0,
) -> DataFrame:
    """DSIR-style importance weights for pretraining data selection
    (Xie et al., "Data Selection for Language Models via Importance
    Resampling", NeurIPS 2023): estimate hashed-n-gram bag-of-words
    distributions for a TARGET slice (``target_cond`` true — the
    high-quality domain you want more of) and the RAW rest of the corpus,
    then weight every raw document by
    ``log w(x) = sum_f [log p_target(bucket(f)) - log p_raw(bucket(f))]``
    over its unigram+bigram features. High weight = "looks like the
    target"; feed the weights to
    :func:`semantic_index_spark.operators.skew.weighted_sample` for the
    paper's resampling step.

    Scale shape: TWO tokenize+explode passes over the corpus, total. Pass
    one estimates the whole model in a SINGLE groupBy on the hashed
    bucket id with conditional target/raw counts (≤ ``buckets`` rows —
    model state is O(buckets), independent of corpus size; totals derive
    from those rows for free, so the model never costs a second corpus
    scan). Pass two scores: the bucket table broadcasts back onto the
    re-derived feature stream → one groupBy(doc). Re-deriving beats
    caching corpus×features rows at 100 TB. Nothing unbounded is ever
    broadcast; the shuffle keys are (bucket) then (doc_id), both
    well-distributed.

    Cross-engine parity: per-feature log-ratios are fixed-pointed to
    1e-6 micro-nats BEFORE the per-doc sum (same exact-integer trick as
    :func:`ngram_lm_score`), and the smoothed ratio is assembled as ONE
    division of two exact-integer products —
    ``(ct+α)(tr+αB) / (cr+α)(tt+αB)`` with α=1 — so both engines log the
    bit-identical double. The products stay exact below 2^53 (fine to
    ~10^9 feature occurrences per side; at true 100 TB scale you would
    sum float log-differences instead and give up hash-exact replay).

    Returns (doc_id, n_feats, logw_micro, avg_logw) for raw docs only.
    [absent in reference — north-star extension]
    """
    from semantic_index_spark.operators.dedup import ensure_parallelism

    a = float(alpha)
    base = ensure_parallelism(docs).select(
        F.col(id_col),
        target_cond.cast("boolean").alias("__tgt"),
        T.tokens(text_col).alias("__t"),
    )
    # unigrams ++ word bigrams ("w1 w2"), all in-JVM array ops; slice with
    # length 0 (single-token doc) yields [] on both engines
    feats = base.select(
        id_col,
        "__tgt",
        F.explode(
            F.concat(
                F.col("__t"),
                F.expr(
                    "transform(slice(__t, 1, greatest(size(__t) - 1, 0)),"
                    " (w, i) -> concat(w, ' ', __t[i + 1]))"
                ),
            )
        ).alias("__f"),
    ).select(
        id_col,
        "__tgt",
        F.pmod(T.md5_bigint(F.col("__f"), salt="dsir:"), F.lit(buckets)).alias("bkt"),
    )
    # ONE model-estimation pass: target and raw counts as conditional
    # aggregates of a single bucket groupBy. The result IS the whole
    # model — ≤ `buckets` rows — so it collects to the driver (the same
    # bounded-model shape as k-means centroids) and the totals fall out
    # without ever re-scanning the corpus.
    counts = feats.groupBy("bkt").agg(
        F.sum(F.when(F.col("__tgt"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(~F.col("__tgt"), 1).otherwise(0)).alias("cr"),
    )
    rows = collect_bounded(counts, buckets, "dsir_weights bucket model")
    tt = sum(r["ct"] for r in rows)
    tr = sum(r["cr"] for r in rows)
    model = docs.sparkSession.createDataFrame(
        [(int(r["bkt"]), int(r["ct"]), int(r["cr"])) for r in rows],
        "bkt bigint, ct bigint, cr bigint",
    )
    scored = (
        feats.filter(~F.col("__tgt"))
        .join(F.broadcast(model), "bkt", "left")
        .select(
            id_col,
            F.floor(
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(a))
                    * (F.lit(tr) + F.lit(a) * F.lit(buckets))
                    / (
                        (F.coalesce(F.col("cr"), F.lit(0)) + F.lit(a))
                        * (F.lit(tt) + F.lit(a) * F.lit(buckets))
                    )
                )
                * F.lit(1e6)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_feats"),
        F.sum("lp").cast("bigint").alias("logw_micro"),
        F.round(
            F.sum("lp").cast("double") / F.lit(1e6) / F.count("*"), 6
        ).alias("avg_logw"),
    )


def naive_bayes_language(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "lang",
) -> DataFrame:
    """Multinomial Naive Bayes trained ON the corpus labels and scored back
    over it, reported as a confusion matrix — the classic count-based text
    classifier (add-1 smoothing) as a train → score pipeline with no
    model server: the "model" IS two aggregation results.

    Exact-arithmetic decomposition: with add-1 smoothing the per-class
    log-likelihood splits as

        score_c(d) = log P(c) + Σ_t log(count(c,t)+1) − n_d·log(T_c + V)

    so unseen (class, token) pairs contribute log(1) = 0 and the scoring
    join only needs OBSERVED pairs — no dense class×vocab grid is ever
    materialized. Every log is taken once per distinct quantity and
    fixed-pointed to 1e-6 micro-nats (the ngram_lm_score trick), after
    which scores are exact BIGINT sums and the argmax is an integer
    compare with a deterministic label tiebreak — cross-engine parity by
    construction.

    Scale shape: token explode → class-conditional word count (shuffle
    bounded by class×vocab), corpus join against those counts (hash
    equi-join on the token — never broadcast, vocab grows with the
    corpus), per-(doc, class) integer sum, and a ≤|classes|-row window
    per doc for the argmax. Class marginals and priors are tiny
    broadcasts. [absent in reference — north-star extension]"""
    from semantic_index_spark.operators.dedup import ensure_parallelism

    base = ensure_parallelism(docs).select(
        F.col(id_col), F.col(label_col), T.tokens(text_col).alias("__t")
    )
    toks = base.select(id_col, label_col, F.explode("__t").alias("w"))
    micro = lambda c: F.floor(F.log(c) * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    cw = toks.groupBy(F.col(label_col).alias("l"), "w").agg(
        F.count("*").alias("c")
    )
    plp = cw.select("l", "w", micro(F.col("c") + F.lit(1.0)).alias("lp"))
    tl = toks.groupBy(F.col(label_col).alias("l")).agg(F.count("*").alias("t"))
    vocab = toks.select(F.count_distinct("w").alias("v"))
    den = tl.crossJoin(F.broadcast(vocab)).select(
        "l", micro(F.col("t") + F.col("v")).alias("den_micro")
    )
    # prior total via a window over the ≤|classes|-row aggregate — no
    # second corpus scan, no driver action (SinglePartition over a tiny
    # relation is fine)
    prior = (
        docs.groupBy(F.col(label_col).alias("l"))
        .agg(F.count("*").alias("nl"))
        .withColumn("_total", F.sum("nl").over(Window.partitionBy()))
        .select(
            "l", micro(F.col("nl") / F.col("_total")).alias("prior_micro")
        )
    )
    classes = (
        prior.join(F.broadcast(den), "l")
        .select("l", "prior_micro", "den_micro")
    )
    nd = toks.groupBy(id_col, F.col(label_col).alias("actual")).agg(
        F.count("*").alias("n")
    )
    matched = (
        toks.join(plp, "w")
        .groupBy(id_col, "l")
        .agg(F.sum("lp").alias("m"))
    )
    grid = (
        nd.crossJoin(F.broadcast(classes))
        .join(matched, [id_col, "l"], "left")
        .select(
            id_col,
            "actual",
            "l",
            (
                F.col("prior_micro")
                - F.col("n") * F.col("den_micro")
                + F.coalesce(F.col("m"), F.lit(0))
            ).alias("score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("l"))
    return (
        grid.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .groupBy(
            F.col("actual").alias("actual_lang"),
            F.col("l").alias("predicted_lang"),
        )
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


def phrase_search(
    df: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase query via a positional inverted index — the Lucene
    primitive: tokenize once, keep ONLY postings for the phrase's words
    (the selectivity filter runs before any shuffle), then intersect
    position lists with one (doc, position+i) hash equi-join per extra
    word. [absent in reference — north-star extension]

    Scale shape: the corpus tokenizes in-JVM (posexplode, no Python), the
    per-word posting filter cuts the exploded stream to Σ df(wᵢ) rows
    BEFORE the joins, and each join is an equi-join on (doc, position) —
    never a LIKE scan per pattern, never a cross product. A production
    index would materialize the postings table once and serve many
    phrases from it; the plan here is identical downstream of the scan.

    Returns (id, n_matches) for documents containing the phrase at least
    once, n_matches = number of distinct start positions.
    """
    words = phrase.lower().split()
    if len(words) < 2:
        raise ValueError("phrase_search: phrase must have >= 2 words")
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(T.tokens(text_col)).alias("_p", "_tok"),
    ).filter(F.col("_tok").isin(words))
    cur = (
        toks.filter(F.col("_tok") == words[0])
        .select("_id", F.col("_p").alias("_start"))
    )
    for i, w in enumerate(words[1:], start=1):
        nxt = toks.filter(F.col("_tok") == w).select(
            F.col("_id").alias("_id2"), (F.col("_p") - i).alias("_start2")
        )
        cur = cur.join(
            nxt,
            (cur["_id"] == nxt["_id2"]) & (cur["_start"] == nxt["_start2"]),
        ).select("_id", "_start")
    return cur.groupBy(F.col("_id").alias(id_col)).agg(
        F.count("*").cast("bigint").alias("n_matches")
    )
