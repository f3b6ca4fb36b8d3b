"""Text-analysis scalar functions — all pure Catalyst Column expressions.

[absent in reference — north-star extension] The reference's only text
operation is JSON canonicalization before embedding
(`SemanticDatabase.cs:161,363`). These functions add the text-analysis
surface a training-data pipeline needs (language ID, quality scoring, token
counting, fingerprinting), built exclusively from JVM-side built-ins so
they stay inside whole-stage codegen and every formula is reproducible in
the DuckDB oracle (same SQL, same answers).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# Tiny per-language stopword lists for the n-gram/stopword-ratio language
# heuristic. Deterministic and SQL-expressible — not a statistical model.
STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is", "it"]


def _to_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization → array<string> (lowercased)."""
    return F.split(F.lower(F.trim(_to_col(text))), r"\s+")


def token_count(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """BPE-ish token estimate: count alternating alpha / digit / punct runs
    (a cheap regex proxy for subword tokenizers; deterministic, JVM-side)."""
    c = _to_col(text)
    words = F.size(F.filter(F.split(c, r"[^A-Za-z]+"), lambda x: x != ""))
    digits = F.size(F.filter(F.split(c, r"[^0-9]+"), lambda x: x != ""))
    puncts = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return (words + digits + puncts).cast("bigint")


def stopword_ratio(text: Column | str, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are (English) stopwords — the classic cheap
    quality / language signal."""
    sw = F.array(*[F.lit(w) for w in (stopwords or STOPWORDS_EN)])
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return (hits.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double"))


def punct_ratio(text: Column | str) -> Column:
    """Punctuation chars / total chars."""
    c = _to_col(text)
    non_word = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return non_word.cast("double") / F.greatest(F.length(c), F.lit(1)).cast("double")


def mean_token_len(text: Column | str) -> Column:
    """Average token length — degenerate values flag boilerplate/garbage."""
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return total.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def quality_score(text: Column | str) -> Column:
    """Composite document-quality score in [0, 1]: rewards stopword presence
    and mid-range token length, penalizes punctuation soup. A deterministic
    arithmetic combination (Gopher/C4-style heuristics) — SQL-portable."""
    sw = stopword_ratio(text)
    pr = punct_ratio(text)
    mtl = mean_token_len(text)
    len_ok = F.when((mtl >= 3.0) & (mtl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    raw = (F.least(sw * 4.0, F.lit(1.0)) * 0.5 + (1.0 - F.least(pr * 5.0, F.lit(1.0))) * 0.3
           + len_ok * 0.2)
    return F.round(raw, 6)


def lang_guess(text: Column | str) -> Column:
    """Heuristic language ID from stopword hits: 'en' if any English
    stopword token appears, else 'other'. (The synthetic `documents.lang`
    column carries ground truth; this derives a label from text alone.)"""
    return F.when(stopword_ratio(text) > 0, F.lit("en")).otherwise(F.lit("other"))


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text.
    Stable across engines (DuckDB md5 == Spark md5 on identical bytes) —
    the exact-dedup key at any scale."""
    norm = F.regexp_replace(F.lower(F.trim(_to_col(text))), r"\s+", " ")
    return F.md5(norm)


def md5_bigint(c: Column | str, salt: str = "") -> Column:
    """First 60 bits of md5(salt || value) as a non-negative BIGINT.

    The portable hash primitive for MinHash/SimHash: Spark's builtin
    ``hash()`` (Murmur3) and DuckDB's ``hash()`` disagree, but md5 agrees
    byte-for-byte, and 15 hex chars fit in a signed 64-bit int. DuckDB
    equivalent: ``('0x' || substr(md5(salt || v), 1, 15))::UBIGINT``.
    """
    h = F.md5(F.concat(F.lit(salt), _to_col(c)))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint")


def repetition_ratio(text: Column | str, n: int = 3) -> Column:
    """Within-document repetition: fraction of word n-gram shingles that are
    duplicates of an earlier shingle in the SAME document —
    ``1 - distinct/total``. The standard boilerplate/spam signal (Gopher's
    duplicate-n-gram filters): templated or looping text scores high, prose
    scores near 0. Pure JVM array ops; no shuffle, no Python."""
    sh = shingles(text, n)
    return F.round(
        1.0
        - F.size(F.array_distinct(sh)).cast("double")
        / F.greatest(F.size(sh), F.lit(1)).cast("double"),
        6,
    )


# (label, RE2-safe pattern) — deliberately conservative ASCII patterns that
# parse identically under Java regex (Spark) and RE2 (DuckDB): no lookaround,
# no backreferences, explicit character classes.
PII_PATTERNS: list[tuple[str, str]] = [
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("IP", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
    ("PHONE", r"\+[0-9][0-9 ()-]{7,}[0-9]"),
]


def pii_scrub(text: Column | str) -> Column:
    """Replace emails / IPv4s / international-format phone numbers with
    ``<LABEL>`` placeholders — the redaction pass every training-data
    pipeline runs before a corpus ships. Order matters (emails first, so an
    IP-lookalike inside an email is not half-scrubbed); one
    ``regexp_replace`` per pattern, all inside whole-stage codegen."""
    c = _to_col(text)
    for label, pat in PII_PATTERNS:
        c = F.regexp_replace(c, pat, f"<{label}>")
    return c


def pii_counts(text: Column | str) -> Column:
    """Per-document match counts as a map<string,int> keyed by PII label —
    the audit twin of :func:`pii_scrub` (what WOULD be redacted)."""
    c = _to_col(text)
    return F.map_from_arrays(
        F.array(*[F.lit(label) for label, _ in PII_PATTERNS]),
        F.array(*[F.regexp_count(c, F.lit(pat)).cast("int") for _, pat in PII_PATTERNS]),
    )


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles → array<string> (distinct not applied here).
    Built with sequence+transform so it stays JVM-side; documents shorter
    than n words yield a single shingle of the whole text. The token array
    is bound through a one-element ``transform`` so the regex split runs
    once per document — captured as an outer expression it would be
    re-evaluated for every shingle (O(w²) per w-word document)."""

    def _windows(toks):
        k = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
        return F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )

    return F.transform(F.array(tokens(text)), _windows)[0]
