"""Registry-contract tests: the driver hash-checks the FIRST 50 entries of
``queries()`` each round, so registry shape and ordering are load-bearing.

Most of these tests are pure-Python (no SparkSession) — they guard the
contract the round-7 ADVICE flagged (a duplicate dict key silently shrinking
the registry), the verification window that CORRECTNESS checks depend on,
and that every package definition is reachable from a caller. Every row's
oracle runs against Spark at the test scale factor.
"""

from __future__ import annotations

import ast
import json
import os
import pathlib

import pytest

import __spark_entry__ as entrymod

REPO = pathlib.Path(__file__).resolve().parent.parent
ENTRY_PATH = str(REPO / "__spark_entry__.py")


def _dict_literal_string_keys(func_name: str) -> list[str]:
    """All string keys of every dict literal inside the named function."""
    with open(ENTRY_PATH) as fh:
        tree = ast.parse(fh.read())
    keys: list[str] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == func_name:
            for sub in ast.walk(node):
                if isinstance(sub, ast.Dict):
                    for k in sub.keys:
                        if isinstance(k, ast.Constant) and isinstance(k.value, str):
                            keys.append(k.value)
    return keys


def test_queries_dict_literal_has_no_duplicate_keys():
    # A duplicated key in the source dict is silently collapsed at runtime
    # (last wins) but skews the registry count/order accounting the driver
    # window is pinned against (round-7 ADVICE: duplicated "text_quality").
    keys = _dict_literal_string_keys("queries")
    dupes = sorted({k for k in keys if keys.count(k) > 1})
    assert not dupes, f"duplicate registry keys in queries() source: {dupes}"


def test_oracle_sql_dict_literal_has_no_duplicate_keys():
    keys = _dict_literal_string_keys("oracle_sql")
    dupes = sorted({k for k in keys if keys.count(k) > 1})
    assert not dupes, f"duplicate keys in oracle_sql() source: {dupes}"


def test_driver_window_leads_registry():
    canonical = _dict_literal_string_keys("queries")
    window = entrymod._driver_window(canonical, os.path.dirname(ENTRY_PATH))
    assert len(window) == 50
    assert len(set(window)) == 50
    names = list(entrymod.queries().keys())
    assert names[:50] == window
    assert sorted(names) == sorted(canonical)


def test_driver_window_rotation_policy(tmp_path):
    green = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}

    def write(rnd, rows):
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))

    write(1, {"n1": green, "n2": green, "n3": {**green, "err": "boom"}, "n4": green,
              "n6": green, "n8": green})
    write(2, {"n2": {**green, "hash_match": False}, "n4": green, "n6": green})
    write(3, {"n3": green, "n6": "timeout"})
    # not a round file: ignored
    (tmp_path / "CORRECTNESS_r03_c8.json").write_text(json.dumps({"n5": green}))
    names = [f"n{i}" for i in range(1, 9)]
    # never checked (n5, n7), then latest row failed (n2 in r2, n6 in r3),
    # then stalest: r1 (n1, n8 in canonical order), r2 (n4), r3 (n3)
    expected = ["n5", "n7", "n2", "n6", "n1", "n8", "n4", "n3"]
    assert entrymod._driver_window(names, str(tmp_path)) == expected
    # canonical order breaks every tie
    assert entrymod._driver_window(names[::-1], str(tmp_path)) == [
        "n7", "n5", "n6", "n2", "n8", "n1", "n4", "n3"]
    assert entrymod._driver_window(names, str(tmp_path / "none")) == names


def test_every_query_has_an_oracle():
    qs = set(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    missing = sorted(qs - oracles)
    assert not missing, f"queries without a DuckDB oracle: {missing}"


@pytest.fixture(scope="module")
def duck(sf_dir):
    from tools.check_oracles import connect

    return connect(sf_dir)


@pytest.mark.parametrize("name", list(entrymod.queries()))
def test_oracle_matches(spark, duck, sf_dir, name):
    """Every registry row hash-matches its DuckDB oracle at the test scale
    factor (the compare of ``tools/check_oracles.py``)."""
    from tools.check_oracles import check_one

    assert check_one(spark, duck, name, sf_dir) == []


# the rows whose operators held ``cache()`` frames past the call
FORMER_CACHE_ROWS = [
    "pagerank", "personalized_pagerank", "triangle_count", "adamic_adar",
    "khop_frontier", "autocorrelation", "jsonl_quarantine",
]


def test_pinned_scope_leaves_nothing_persisted(spark, sf_dir):
    """A row built and collected inside ``pinned()`` leaves the CacheManager
    empty and no new persisted RDD behind, with no GC. The co-purchase
    session memo is built first: it is meant to outlive the scope."""
    from semantic_index_spark.session import pinned

    cache = spark._jsparkSession.sharedState().cacheManager()

    def persisted() -> set[int]:
        return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}

    spark.catalog.clearCache()
    entrymod._copurchase_edges(spark, sf_dir)
    for name in FORMER_CACHE_ROWS:
        before = persisted()
        with pinned():
            assert entrymod.queries()[name](spark, sf_dir).collect(), name
        assert cache.isEmpty(), name
        # a subset, not an equal size: the ContextCleaner may free an
        # older test's RDD meanwhile
        assert persisted() <= before, name


def test_lsh_pairs_memo_outlives_the_scope_that_built_it(spark, duck, sf_dir):
    """The LSH-pairs memo is built inside the first consumer's scope; a
    second consumer, in a scope of its own, still reads its pin."""
    from tools.check_oracles import check_one

    entrymod._SESSION_MEMO.pop((spark.sparkContext.applicationId, sf_dir, "lsh_pairs"), None)
    assert check_one(spark, duck, "dup_degree", sf_dir) == []
    assert check_one(spark, duck, "cross_source_dup", sf_dir) == []


RETRY_SCRIPT = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
import __spark_entry__ as E
from semantic_index_spark.session import get_spark, pinned

spark = get_spark(master="local[4,2]", shuffle_partitions=4)
spark.sparkContext.setLogLevel("OFF")
sf_dir, names = sys.argv[2], sys.argv[3:]


def fail_first_attempt(batches):
    from pyspark import TaskContext

    if TaskContext.get().attemptNumber() == 0:
        raise RuntimeError("injected first-attempt failure")
    yield from batches


def run(group):
    E._SESSION_MEMO.clear()
    spark.sparkContext.setJobGroup(group, group)
    out = {}
    for name in names:
        with pinned():
            out[name] = sorted(repr(tuple(r)) for r in E.queries()[name](spark, sf_dir).collect())
    return out


clean = run("clean")
load = E.load_table
E.load_table = lambda spark, sf_dir, name: load(spark, sf_dir, name).transform(
    lambda df: df.mapInArrow(fail_first_attempt, df.schema)
)
retried = run("retried")
tracker = spark.sparkContext.statusTracker()
failed = sum(
    tracker.getStageInfo(s).numFailedTasks
    for j in tracker.getJobIdsForGroup("retried")
    for s in tracker.getJobInfo(j).stageIds
    if tracker.getStageInfo(s) is not None
)
print(json.dumps({"failed_tasks": failed, "same": {n: clean[n] == retried[n] for n in names}}))
"""


def test_graph_rows_survive_task_retries(sf_dir):
    """Retry safety: on ``local[4,2]`` every task that reads a table fails
    its first attempt (a pass-through ``mapInArrow``), and pagerank, label
    propagation and connected components still return byte-identical
    rounded rows."""
    import subprocess
    import sys

    names = ["pagerank", "label_propagation", "dedup_components"]
    proc = subprocess.run(
        [sys.executable, "-c", RETRY_SCRIPT, str(REPO), sf_dir, *names],
        env=dict(os.environ, SPARK_DRIVER_MEMORY="2g"),
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["failed_tasks"] > 0
    assert out["same"] == {n: True for n in names}


def test_tool_name_lists_name_registry_rows():
    """The hand-written per-query tables of the audit and scaling tools
    name only registry rows, so a rename fails here rather than at audit
    time."""
    from tools import plan_audit, scaling_probe

    names = set(entrymod.queries())
    lists = {
        "plan_audit.AUDITS": plan_audit.AUDITS,
        "scaling_probe.PANEL": scaling_probe.PANEL,
        "scaling_probe.EXPLICIT_CEILINGS": scaling_probe.EXPLICIT_CEILINGS,
        "scaling_probe.GATE_OVERRIDES": scaling_probe.GATE_OVERRIDES,
    }
    stale = {k: sorted(set(v) - names) for k, v in lists.items() if set(v) - names}
    assert not stale, f"names that are not queries() rows: {stale}"


# File and directory names of the versioned table layout, each with the one
# package module allowed to spell it ("v=" is the version-directory prefix).
LAYOUT_OWNERS = {
    "_latest.json": "semantic_index_spark/sources/versioned.py",
    "_manifest_v": "semantic_index_spark/sources/versioned.py",
    "__bucket=": "semantic_index_spark/sources/versioned.py",
    "__dv": "semantic_index_spark/sources/versioned.py",
    "_hidden_spec.json": "semantic_index_spark/sources/versioned.py",
    "v=": "semantic_index_spark/sources/versioned.py",
    "_zonemaps.json": "semantic_index_spark/sources/skipping.py",
}


def _string_constants(tree: ast.AST):
    """``(line, text)`` of every string constant that is not a docstring;
    each literal part of an f-string counts on its own."""
    docs = set()
    for n in ast.walk(tree):
        if isinstance(n, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            first = n.body[0] if n.body else None
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                docs.add(id(first.value))
    for n in ast.walk(tree):
        if isinstance(n, ast.Constant) and isinstance(n.value, str) and id(n) not in docs:
            yield n.lineno, n.value


def layout_names_outside_owner() -> dict[str, list[str]]:
    """``{layout name: [module:line, ...]}`` of the package sites that spell
    a layout name outside the module that owns it."""
    out: dict[str, list[str]] = {}
    for f in sorted((REPO / "semantic_index_spark").rglob("*.py")):
        where = str(f.relative_to(REPO))
        for line, text in _string_constants(ast.parse(f.read_text())):
            for name, owner in LAYOUT_OWNERS.items():
                if name == "v=":  # a path prefix, not a substring
                    spelled = text.startswith(name) or "/" + name in text
                else:
                    spelled = name in text
                if spelled and where != owner:
                    out.setdefault(name, []).append(f"{where}:{line}")
    return out


def test_table_layout_is_spelled_in_one_module():
    """Every path under a versioned table's directory is built by one
    module: a second spelling of a file or directory name is a second
    reader or writer of the layout that can drift from the first."""
    assert layout_names_outside_owner() == {}


def _calls_by_function(node, fn: str = "<module>"):
    """``(innermost enclosing function name, call)`` for every call."""
    for child in ast.iter_child_nodes(node):
        name = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
        if isinstance(child, ast.Call):
            yield name, child
        yield from _calls_by_function(child, name)


def manifest_writers() -> list[str]:
    """``module:function`` of every package function that opens a file
    named by ``versioned._manifest_path(...)`` for writing (``skipping``
    has a ``_manifest_path`` of its own, for zone maps)."""
    owner = LAYOUT_OWNERS["_manifest_v"]
    out = set()
    for f in sorted((REPO / "semantic_index_spark").rglob("*.py")):
        where = str(f.relative_to(REPO))
        tree = ast.parse(f.read_text())
        imports = [a for n in ast.walk(tree)
                   if isinstance(n, (ast.Import, ast.ImportFrom)) for a in n.names]
        bare = where == owner or any(
            isinstance(n, ast.ImportFrom) and (n.module or "").endswith(".versioned")
            and any(a.name == "_manifest_path" for a in n.names)
            for n in ast.walk(tree)
        )
        aliases = {a.asname or a.name for a in imports if a.name.split(".")[-1] == "versioned"}

        def names_manifest(call) -> bool:
            fn = call.func
            if isinstance(fn, ast.Name):
                return bare and fn.id == "_manifest_path"
            return (isinstance(fn, ast.Attribute) and fn.attr == "_manifest_path"
                    and ast.unparse(fn.value) in aliases)

        for fn, call in _calls_by_function(tree):
            if not (isinstance(call.func, ast.Name) and call.func.id == "open"):
                continue
            mode = call.args[1] if len(call.args) > 1 else next(
                (k.value for k in call.keywords if k.arg == "mode"), None)
            writes = isinstance(mode, ast.Constant) and set(str(mode.value)) & set("wax+")
            if writes and call.args and isinstance(call.args[0], ast.Call) \
                    and names_manifest(call.args[0]):
                out.add(f"{where}:{fn}")
    return sorted(out)


def test_bucketed_manifests_have_one_writer():
    """Every bucketed commit is an edit of the manifest it lands on, and
    one function publishes it: a second writer is a second manifest
    builder that can drop keys the first one carries."""
    assert manifest_writers() == [
        "semantic_index_spark/sources/versioned.py:_publish_bucketed"
    ]


# Package definitions no caller reaches, each with the reason it stays.
KEEP = {
    # reference-parity surface (SURVEY.md §1-2)
    "OpenAIStyleEmbedder": "the reference's OpenAI embedding client, minus the network call",
    "read_reference_json_array": "distributed reader of the reference's JSON-array file format",
    # references and helpers that tests use to check live code
    "plan_contains": "the plan predicate the assert_* helpers share",
    "assert_pushed_filter": "plan assertion helper for the operator tests",
    "assert_broadcast_join": "plan assertion helper for the operator tests",
    "assert_top_k": "plan assertion helper for the operator tests",
    "scan_read_schema": "plan assertion helper for the column-pruning tests",
    "hll_standard_error": "analytic error bound the HLL accuracy tests compare against",
    "bloom_fp_rate": "analytic false-positive rate the Bloom tests compare against",
    "_py_laplace_noise": "Python reference of the DP noise draw",
    "kmeans_inertia": "objective the k-means tests check convergence with",
    "dequantize_int8": "inverse of quantize_int8 for the round-trip error tests",
    "fake_decode": "stand-in decoder for the media pipeline tests",
    "stream_events": "the streaming source every streaming test reads",
    # mutating and recovery verbs of the live table and index formats
    "add_constraint": "CHECK constraints on versioned tables (OCC-committed)",
    "drop_constraint": "inverse of add_constraint",
    "restore_version": "RESTORE TABLE to an earlier version",
    "expire_versions": "retention of the plain versioned store",
    "expire_hidden": "retention of the hidden-partitioned store",
    "detach_index": "inverse of the attach_*_index verbs",
    "detach_hnsw_index": "inverse of attach_hnsw_index",
    "recover_hnsw_layout": "crash recovery of a standalone HNSW layout",
    "recover_ivf_layout": "crash recovery of a standalone IVF layout",
    "_recover_swap": "the swap-recovery protocol the two recover verbs above share",
}

# Callers: the registry, the benchmarks, the tools and the examples.
TRAFFIC = [
    REPO / "__spark_entry__.py", REPO / "bench.py",
    *sorted((REPO / "tools").glob("*.py")),
    *sorted((REPO / "examples").glob("*.py")),
    *sorted((REPO / "perfbench").glob("*.py")),
]


def _identifiers(node) -> set[str]:
    """Names, attribute names and import names under ``node``. Comments and
    strings do not count, so a docstring mention keeps nothing alive."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
            if n.asname:
                out.add(n.asname)
        elif isinstance(n, ast.ImportFrom) and n.module:
            out.update(n.module.split("."))
    return out


def unreachable_definitions() -> dict[str, list[str]]:
    """Top-level package ``def``/``class``/assignment names that no caller
    reaches, with their locations. Reachable = named in a caller or in a
    package module-level statement (imports excluded), closed over the
    bodies of reachable definitions by name. No package name is dispatched
    through ``getattr`` or ``importlib``, so names are enough."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: set[str] = set()
    for f in TRAFFIC:
        roots |= _identifiers(ast.parse(f.read_text()))
    for f in sorted((REPO / "semantic_index_spark").rglob("*.py")):
        where = str(f.relative_to(REPO))
        for st in ast.parse(f.read_text()).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(st.name, []).append((where, st))
            elif isinstance(st, (ast.Assign, ast.AnnAssign)):
                targets = st.targets if isinstance(st, ast.Assign) else [st.target]
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            defs.setdefault(n.id, []).append((where, st))
            elif not isinstance(st, (ast.Import, ast.ImportFrom)):
                roots |= _identifiers(st)
    seen: set[str] = set()
    todo = [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for _, node in defs[name]:
            todo.extend(n for n in _identifiers(node) if n in defs and n not in seen)
    return {
        name: [f"{where}:{node.lineno}" for where, node in sites]
        for name, sites in sorted(defs.items())
        if name not in seen and not (name.startswith("__") and name.endswith("__"))
    }


def test_unreachable_package_code_is_only_keep():
    """Dead package surface cannot build up: every definition no query,
    benchmark, tool or example reaches is in KEEP with its reason, and every
    KEEP name still exists and is still unreached."""
    dead = unreachable_definitions()
    assert set(dead) - set(KEEP) == set(), {n: dead[n] for n in set(dead) - set(KEEP)}
    assert set(KEEP) - set(dead) == set(), "KEEP names that are gone or now reached"
