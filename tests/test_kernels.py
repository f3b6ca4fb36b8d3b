"""Linear-time kernels of the search and dedup paths.

* ``topk_multi``'s Arrow kernel against a brute-force NumPy top-k, with
  ties planted across Arrow batches and partitions.
* A guard over every public ``functions/`` and ``operators/`` helper that
  builds a Catalyst lambda: no lambda body may hold a regex, an aggregate
  fold or a tokenization that does not depend on the lambda's own
  variables — such a subtree is re-evaluated for every array element.
* Exact outputs of the helpers that bind their tokens / norm once
  (``shingles``, ``duplicate_spans``, ``mrl_truncate``) against
  pure-Python references.
"""

from __future__ import annotations

import ast
import hashlib
import math
import pathlib
import re

import numpy as np
import pyspark.sql.functions as F
import pytest

from semantic_index_spark.functions import text as T
from semantic_index_spark.functions import vector as V
from semantic_index_spark.operators import dedup as D
from semantic_index_spark.operators import multimodal as MM
from semantic_index_spark.operators import relational as R
from semantic_index_spark.operators import similarity as S
from semantic_index_spark.operators import text_analysis as TA
from semantic_index_spark.operators import timeseries as TS

PKG = pathlib.Path(__file__).resolve().parent.parent / "semantic_index_spark"

# ---------------------------------------------------------------- topk_multi


def _brute_topk(ids, emb, q_ids, q_mat, k):
    """(q_id, id, score, rank): score rounded half-up to 6 places, each
    query's rows ordered by (score DESC, id ASC)."""
    scores = S._round_half_up6(emb @ q_mat.T)
    out = []
    for qi, qid in enumerate(q_ids):
        ranked = sorted(zip(ids, scores[:, qi]), key=lambda r: (-r[1], r[0]))[:k]
        out += [(qid, i, float(s), rank) for rank, (i, s) in enumerate(ranked, 1)]
    return sorted(out)


@pytest.fixture
def small_arrow_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "4")
    yield
    spark.conf.set(key, old)


@pytest.mark.parametrize("id_type", ["long", "string"])
@pytest.mark.parametrize("k", [3, 25])
def test_topk_multi_equals_brute_force(spark, small_arrow_batches, id_type, k):
    """Six partitions of 0 or 12 rows, 4-row Arrow batches: k=3 runs the
    ``np.partition`` cut inside every batch, k=25 is larger than any
    partition. Small dyadic coordinates make every dot product exact, so
    ties are real ties. Three rows in four are the all-ones vector, query
    q0's unique best match: each batch's k-th and (k+1)-th q0 scores fall
    inside that tie, the tie spans batches and partitions, and its
    smallest ids come last in scan order."""
    rng = np.random.default_rng(5)
    n, d = 60, 4
    emb = rng.integers(-4, 5, size=(n, d)).astype(np.float64) / 4
    emb[np.arange(n) % 4 != 0] = 1.0
    raw_ids = np.arange(n)[::-1] * 3
    ids = [f"v{i:03d}" for i in raw_ids] if id_type == "string" else [int(i) for i in raw_ids]
    q_mat = rng.integers(-4, 5, size=(5, d)).astype(np.float64) / 4
    q_mat[0] = 1.0
    q_ids = [f"q{i}" for i in range(len(q_mat))]

    rows = [(i, [float(x) for x in e]) for i, e in zip(ids, emb)]
    sc = spark.sparkContext
    rdd = sc.parallelize(rows[:24], 2).union(sc.parallelize([], 1)).union(
        sc.parallelize(rows[24:], 3)
    )
    big = spark.createDataFrame(rdd, f"vec_id {id_type}, embedding array<double>")
    assert big.rdd.getNumPartitions() == 6
    queries = spark.createDataFrame(
        [(q, [float(x) for x in v]) for q, v in zip(q_ids, q_mat)],
        "q_id string, q_embedding array<double>",
    )

    out = S.topk_multi(big, queries, k=k)
    assert out.columns == ["q_id", "vec_id", "score", "rank"]
    assert dict(out.dtypes)["vec_id"] == ("bigint" if id_type == "long" else "string")
    got = sorted(tuple(r) for r in out.collect())
    assert got == _brute_topk(ids, emb, q_ids, q_mat, k)


# ------------------------------------------------------- lambda-capture guard

_HOFS = {
    "transform", "aggregate", "filter", "exists", "forall", "zip_with", "reduce",
    "map_filter", "transform_values", "transform_keys", "map_zip_with", "array_sort",
}


def _builds_lambda(fn: ast.FunctionDef) -> bool:
    """Does ``fn`` pass a Python lambda to a ``F.<higher-order function>``?"""
    return any(
        isinstance(c, ast.Call)
        and isinstance(c.func, ast.Attribute)
        and isinstance(c.func.value, ast.Name)
        and c.func.value.id == "F"
        and c.func.attr in _HOFS
        and any(isinstance(a, ast.Lambda) for a in c.args)
        for c in ast.walk(fn)
    )


def _lambda_helpers() -> set[str]:
    """``module.name`` of every public functions/ or operators/ helper that
    builds a lambda itself or through a private helper of its module."""
    found = set()
    for sub in ("functions", "operators"):
        for path in sorted((PKG / sub).glob("*.py")):
            defs = {
                n.name: n for n in ast.parse(path.read_text()).body
                if isinstance(n, ast.FunctionDef)
            }
            private = {name for name, fn in defs.items() if name.startswith("_") and _builds_lambda(fn)}
            for name, fn in defs.items():
                calls = {
                    c.func.id for c in ast.walk(fn)
                    if isinstance(c, ast.Call) and isinstance(c.func, ast.Name)
                }
                if not name.startswith("_") and (_builds_lambda(fn) or calls & private):
                    found.add(f"{path.stem}.{name}")
    return found


def _tree(e):
    """(class name, lambda-variable id or None, children) of a JVM expression."""
    name = e.getClass().getSimpleName()
    var = e.exprId().id() if name == "NamedLambdaVariable" else None
    kids = e.children()
    return name, var, [_tree(kids.apply(i)) for i in range(kids.size())]


def _plan_expressions(plan):
    exprs = plan.expressions()
    yield from (_tree(exprs.apply(i)) for i in range(exprs.size()))
    kids = plan.children()
    for i in range(kids.size()):
        yield from _plan_expressions(kids.apply(i))


def _expensive(name: str) -> bool:
    return name in ("StringSplit", "RLike", "ArrayAggregate") or name.startswith("RegExp")


def _vars(node) -> set:
    name, var, kids = node
    return ({var} if var is not None else set()).union(*[_vars(k) for k in kids])


def _render(node) -> str:
    name, _, kids = node
    return name + ("(" + ", ".join(_render(k) for k in kids) + ")" if kids else "")


def _captured(node, bound, out):
    """Maximal subtrees of a lambda body that use none of ``bound``."""
    if not _vars(node) & bound:
        if any(_expensive(n) for n in _names(node)):
            out.append(_render(node))
        return
    for k in node[2]:
        _captured(k, bound, out)


def _names(node):
    yield node[0]
    for k in node[2]:
        yield from _names(k)


def _lambda_captures(node, out):
    """Collect every expensive subtree captured into a lambda body. A
    ``LambdaFunction``'s first child is its body, the rest its variables."""
    name, _, kids = node
    if name == "LambdaFunction":
        _captured(kids[0], {v[1] for v in kids[1:]}, out)
    for k in kids:
        _lambda_captures(k, out)
    return out


def captures(df) -> list[str]:
    """Expensive lambda captures in ``df``'s optimized plan (the one that
    runs; Catalyst can collapse a projection into a lambda body)."""
    out: list[str] = []
    for e in _plan_expressions(df._jdf.queryExecution().optimizedPlan()):
        _lambda_captures(e, out)
    return out


def _helper_frames(spark, sf_dir):
    """One small frame per lambda-building helper, keyed like
    :func:`_lambda_helpers`."""
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and the dog sat on the log\n- one\n- two..."),
            (2, "the cat sat on the mat and a dog sat on a log"),
            (3, "  Alpha beta   gamma delta  "),
        ],
        "doc_id long, text string",
    )
    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0, -0.5 * i, 2.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    events = spark.createDataFrame(
        [(1, 1, "view"), (1, 2, "cart"), (1, 3, "buy"), (2, 1, "view")],
        "user_id long, ts long, event_type string",
    )
    media = spark.createDataFrame(
        [(1, [1.0, 2.0]), (1, [3.0, 4.0])], "media_id long, feature array<double>"
    )
    model = S.sq_train(vecs)
    codes = S.sq_encode(vecs, model)
    col = lambda c: vecs.select(c)  # noqa: E731
    txt = lambda c: docs.select(c)  # noqa: E731
    return {
        "text.bpe_ish_token_count": txt(T.bpe_ish_token_count("text")),
        "text.stopword_ratio": txt(T.stopword_ratio("text")),
        "text.mean_token_len": txt(T.mean_token_len("text")),
        "text.shingles": txt(T.shingles("text", 3)),
        "vector.dot": col(V.dot("embedding", "embedding")),
        "vector.l2_distance": col(V.l2_distance("embedding", "embedding")),
        "vector.quantize_int8": col(V.quantize_int8("embedding")),
        "vector.dequantize_int8": col(V.dequantize_int8(V.quantize_int8("embedding"))),
        "vector.quantized_dot_literal": col(
            V.quantized_dot_literal(V.quantize_int8("embedding"), [1.0, 0.0, 1.0, 0.0])
        ),
        "dedup.winnowing_fingerprints": D.winnowing_fingerprints(docs, k=3, w=2),
        "dedup.duplicate_spans": D.duplicate_spans(docs, n=3),
        "dedup.jaccard_prefix_join": D.jaccard_prefix_join(docs),
        "dedup.segment_dedup": D.segment_dedup(docs),
        "multimodal.pool_frame_features": MM.pool_frame_features(media),
        "relational.array_hof": R.array_hof(spark, sf_dir),
        "relational.session_paths": R.session_paths(spark, sf_dir),
        "relational.map_functions": R.map_functions(spark, sf_dir),
        "similarity.mrl_truncate": S.mrl_truncate(vecs, 2),
        "similarity.sq_topk_rescore": S.sq_topk_rescore(codes, vecs, model, [1.0, 0.0, 0.0, 1.0]),
        "similarity.late_interaction_topk": S.late_interaction_topk(
            vecs.withColumnRenamed("vec_id", "doc_id"), [[1.0, 0.0, 0.0, 0.0]]
        ),
        "text_analysis.gopher_rules": TA.gopher_rules(docs),
        "timeseries.funnel": TS.funnel(events, ["view", "cart", "buy"]),
    }


def test_no_lambda_recomputes_a_captured_expression(spark, sf_dir):
    frames = _helper_frames(spark, sf_dir)
    # a new lambda-building helper must be added to _helper_frames
    assert set(frames) == _lambda_helpers()
    bad = {name: c for name, df in frames.items() if (c := captures(df))}
    assert bad == {}


def test_guard_flags_tokens_captured_in_a_lambda(spark):
    """The guard's own check: shingles with ``tokens(text)`` captured in
    the per-shingle lambda (as it was before the one-element bind)."""
    toks = T.tokens("text")
    inline = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - 2, F.lit(1)) - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 3)),
    )
    df = spark.createDataFrame([("a b c d",)], "text string").select(inline)
    assert any("StringSplit" in c for c in captures(df))


# ------------------------------------------- exact outputs of rebound helpers

TEXTS = [
    "",
    None,
    "two words",  # fewer than n=3
    "exactly three words",
    "  Leading and trailing spaces  ",
    "repeated   inner \t whitespace\nand  Tabs",
    "one two three four five six seven",
    "\tleading tab then words here",
]


def _py_tokens(text):
    """Spark ``split(lower(trim(t)), '\\s+')``: trim strips spaces only, and
    Java's split keeps a leading empty token after leading tabs/newlines."""
    return re.split(r"[ \t\n\x0b\f\r]+", text.strip(" ").lower())


def _py_shingles(text, n):
    if text is None:
        return [""]
    toks = _py_tokens(text)
    return [" ".join(toks[i:i + n]) for i in range(max(len(toks) - (n - 1), 1))]


@pytest.fixture(scope="module")
def texts(spark):
    return spark.createDataFrame(list(enumerate(TEXTS)), "doc_id long, text string")


@pytest.mark.parametrize("n", [1, 3])
def test_shingles_exact(texts, n):
    got = {r["doc_id"]: r["sh"] for r in texts.select("doc_id", T.shingles("text", n).alias("sh")).collect()}
    assert got == {i: _py_shingles(t, n) for i, t in enumerate(TEXTS)}


def test_duplicate_spans_exact(spark, texts):
    docs = texts.union(texts.selectExpr("doc_id + 100 AS doc_id", "text").filter("doc_id % 2 = 0"))
    n = 3
    windows = {}
    for i, t in docs.collect():
        toks = _py_tokens(t) if t is not None else []
        if len(toks) >= n:
            windows[i] = [
                hashlib.md5(" ".join(toks[j:j + n]).encode()).hexdigest()
                for j in range(len(toks) - n + 1)
            ]
    owners: dict[str, set] = {}
    for i, hs in windows.items():
        for h in hs:
            owners.setdefault(h, set()).add(i)
    want = {}
    for i, hs in windows.items():
        n_dup = sum(len(owners[h]) >= 2 for h in hs)
        want[i] = (len(hs), n_dup, round(n_dup / len(hs), 6))
    got = {
        r["doc_id"]: (r["n_spans"], r["n_dup"], r["dup_fraction"])
        for r in D.duplicate_spans(docs, n=n, min_docs=2).collect()
    }
    assert got == want


def test_mrl_truncate_exact(spark):
    vecs = [[0.0, 0.0, 0.0, 5.0], [3.0, -4.0, 1.0], [0.1, 0.2, 0.3, 0.4], [1e-3], None]
    df = spark.createDataFrame(list(enumerate(vecs)), "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["embedding"] for r in S.mrl_truncate(df, 3).collect()}

    def ref(v):
        if v is None:
            return None
        s = v[:3]
        acc = 0.0  # left fold, like Spark's aggregate (no compensated sum)
        for x in s:
            acc = acc + x * x
        norm = math.sqrt(acc)
        return [x / norm if norm > 0 else 0.0 for x in s]

    assert got == {i: ref(v) for i, v in enumerate(vecs)}
