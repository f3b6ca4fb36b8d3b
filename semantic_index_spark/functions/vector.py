"""Vector scalar functions as Catalyst Column expressions.

The reference scores with a raw dot product — SIMD ``TensorPrimitives.Dot``
(`SemanticDatabase.cs:279`). Here the same math is expressed with SQL
higher-order functions (``zip_with`` + ``aggregate``) so it stays inside
whole-stage codegen on the JVM: no Python boundary, no serialization, and
Catalyst can prune the scan to exactly (id, embedding).

All folds accumulate in DOUBLE (cast per element) in array order, which is
the same left-to-right order DuckDB's ``list_sum(list_transform(...))``
uses — required for the driver's hash-compare oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column


def _to_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array<float|double> columns (double-accumulated).

    Mirrors `SemanticDatabase.cs:279` (`TensorPrimitives.Dot`).
    """
    a, b = _to_col(a), _to_col(b)
    # cast each element to double BEFORE multiplying: float32*float32 would
    # round to float32 first, silently losing ~8 digits vs the oracle's
    # double-precision products.
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def lit_double_array(vals: Sequence) -> Column:
    """A constant ``array<double>`` (or ``array<array<double>>`` for nested
    input) built from ONE parsed SQL expression. ``F.lit(list)`` expands to
    one py4j round-trip per ELEMENT (measured ~1.8 s to build four 16×8
    codebook literals; the driver-side planning tax the r13 profile showed
    dominating the PQ/SQ projection builders), where a single
    ``F.expr("array(...)")`` is one round-trip + one parse (~7 ms for the
    same codebooks). Values are bit-identical: ``repr`` emits the shortest
    round-trip decimal and the ``D`` suffix makes Spark parse it with
    ``Double.parseDouble`` — the same IEEE double ``F.lit(float)`` carries.
    Falls back to the element-wise shape for non-finite values (no SQL
    literal form)."""
    import math

    def flat(xs) -> "str | None":
        out = []
        for x in xs:
            v = float(x)
            if not math.isfinite(v):
                return None
            out.append(repr(v) + "D")
        return "array(" + ",".join(out) + ")"

    if vals and isinstance(vals[0], (list, tuple)) or (
        vals and hasattr(vals[0], "__len__") and not isinstance(vals[0], str)
    ):
        inner = [flat(v) for v in vals]
        if all(s is not None for s in inner):
            # cast pins the type when a nested array is empty (bare SQL
            # ``array()`` would type as array<string>)
            return F.expr("array(" + ",".join(inner) + ")").cast(
                "array<array<double>>"
            )
        return F.array(
            *[F.array(*[F.lit(float(x)) for x in v]).cast("array<double>") for v in vals]
        )
    s = flat(vals)
    if s is not None:
        return F.expr(s).cast("array<double>")
    return F.array(*[F.lit(float(x)) for x in vals]).cast("array<double>")


def dot_literal(a: Column | str, q: Sequence[float]) -> Column:
    """Dot product against a constant query vector (broadcast as a literal
    into the expression tree — no join, no shuffle; the flagship search path
    `SemanticDatabase.cs:268-308` is scan → project(score) → top-k)."""
    return dot(a, lit_double_array(list(q)))


def l2_norm(a: Column | str) -> Column:
    """Euclidean norm, double-accumulated."""
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity. The reference never divides by norms (its OpenAI
    embeddings are unit-norm, so dot ≈ cosine); we expose both and keep
    ``dot`` as the exact-parity scorer (SURVEY.md §2.C.1)."""
    a, b = _to_col(a), _to_col(b)
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def l2_distance(a: Column | str, b: Column | str) -> Column:
    """Euclidean distance between two vectors."""
    a, b = _to_col(a), _to_col(b)
    return F.sqrt(
        F.aggregate(
            F.zip_with(
                a,
                b,
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def hyperplane_signature(a: Column | str, planes: Sequence[Sequence[float]]) -> Column:
    """Random-hyperplane LSH signature: one sign bit per plane, packed into a
    BIGINT. Deterministic given the planes, SQL-expressible (same formula
    runs in the DuckDB oracle), and shuffle-free — the scale path for
    ANN-style candidate generation at 100 TB (bucket-join on the signature
    instead of an all-pairs cross join)."""
    sig = F.lit(0).cast("bigint")
    for i, p in enumerate(planes):
        bit = F.when(dot_literal(a, p) > 0, F.lit(1).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sig = sig + bit * F.lit(int(2**i)).cast("bigint")
    return sig


def quantize_int8(a: Column | str) -> Column:
    """Symmetric per-vector int8 quantization:
    ``scale = max|x| / 127`` (1.0 for all-zero vectors),
    ``q_i = round(x_i / scale) ∈ [-127, 127]`` stored as tinyint.
    Returns ``struct(scale: double, q: array<tinyint>)``.

    The storage lever at 100 TB: embeddings are usually the widest column;
    int8 cuts them 4× with ~0.5% dot-product error on unit-norm vectors —
    and the quantized dot stays a pure JVM fold (integer multiplies +
    one float rescale). Formula is engine-portable (mirrored in the
    DuckDB oracle)."""
    a = _to_col(a)
    raw = F.array_max(F.transform(a, lambda x: F.abs(x.cast("double")))) / F.lit(127.0)
    s = F.when(raw == 0.0, F.lit(1.0)).otherwise(raw)
    # Bind the scale through a 1-element transform so the O(d) max fold is
    # evaluated ONCE per vector — inlining `s` into the per-element lambda
    # would re-run it for each of the d elements (O(d²) per vector).
    return F.transform(
        F.array(s),
        lambda sc: F.struct(
            sc.alias("scale"),
            F.transform(a, lambda x: F.round(x.cast("double") / sc).cast("tinyint")).alias(
                "q"
            ),
        ),
    )[0]


def dequantize_int8(qz: Column | str) -> Column:
    """Inverse of :func:`quantize_int8` → array<double>."""
    qz = _to_col(qz)
    return F.transform(qz["q"], lambda x: x.cast("double") * qz["scale"])


def quantized_dot_literal(qz: Column | str, query: Sequence[float]) -> Column:
    """Dot of a quantized vector against a float query:
    ``scale · Σ q_i · query_i`` — the integer accumulation plus ONE rescale,
    the cheap scoring path over int8-stored embeddings."""
    qz = _to_col(qz)
    qlit = F.lit([float(x) for x in query]).cast("array<double>")
    acc = F.aggregate(
        F.zip_with(qz["q"], qlit, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return qz["scale"] * acc
