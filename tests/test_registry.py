"""Registry-contract tests: the driver hash-checks the FIRST 50 entries of
``queries()`` each round, so registry shape and ordering are load-bearing.

These tests are pure-Python (no SparkSession) — they guard the contract the
round-7 ADVICE flagged (a duplicate dict key silently shrinking the registry)
and the verification window that CORRECTNESS checks depend on.
"""

from __future__ import annotations

import ast
import json
import os

import __spark_entry__ as entrymod

ENTRY_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py")


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
