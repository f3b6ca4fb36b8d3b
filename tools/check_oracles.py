"""Local mimic of the driver's correctness gate: run each __spark_entry__
query on Spark AND its DuckDB oracle at sf0.01, compare row count, schema
(column names), and an order-insensitive value hash (columns sorted by
name, rows sorted, floats rounded at compare time is NOT done here — the
queries themselves must round).

Usage: python tools/check_oracles.py [name-substring ...]

``check_one(spark, connect(sf_dir), name, sf_dir)`` runs the same compare
for one query and returns its problems, for use from tests.
"""

from __future__ import annotations

import functools
import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from semantic_index_spark.session import get_spark, pinned

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    # Type-faithful for what fetchall() exposes: an int-valued float renders
    # "43684.0", an int renders "43684", so BIGINT-vs-DOUBLE mismatches FAIL
    # here.  HUGEINT is the one blind spot — fetchall() coerces it to a clean
    # Python int, while the driver's Arrow/pandas fetch renders it as float
    # ("21.0") and hash-mismatches (round-7 `best_split`/`orc_roundtrip`).
    # That class is closed by the DESCRIBE-time guard in oracle_type_problems()
    # below, which fails any oracle emitting HUGEINT/UHUGEINT.  No rounding at
    # compare time: queries themselves must round float aggregates.
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


FORBIDDEN_DUCK_TYPES = ("HUGEINT", "UHUGEINT")


def oracle_type_problems(con, sql: str) -> list[str]:
    """DESCRIBE the oracle and flag output columns whose DuckDB type the
    driver's Arrow/pandas fetch renders differently from fetchall().

    DuckDB's sum(BIGINT) (plain or windowed) returns HUGEINT; pandas has no
    int128, so the driver renders it float64 ("21.0") while Spark emits a
    bigint ("21") — rows+schema match, hash doesn't.  fetchall() hides the
    problem by coercing HUGEINT to Python int, which is exactly how the two
    round-7 misses slipped through.  Fix in the oracle: `sum(x)::BIGINT`.
    """
    desc = con.execute(f"DESCRIBE {sql}").fetchall()
    return [
        f"oracle column `{col}` is {typ} (driver renders as float; cast ::BIGINT)"
        for col, typ, *_ in desc
        if any(t in typ.upper() for t in FORBIDDEN_DUCK_TYPES)
    ]


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()[:16]


def connect(sf_dir: str):
    """An in-memory DuckDB connection with one view per table in ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


@functools.cache
def _registry():
    return entrymod.queries(), entrymod.oracle_sql()


def compare(spark, con, name: str, sf_dir: str) -> tuple[list[str] | None, int]:
    """Run query ``name`` on Spark and its oracle on ``con``. Returns the
    problems found and the Spark row count; problems is None when the query
    has no oracle (rows-only)."""
    qs, oracles = _registry()
    try:
        with pinned():  # the pins of one row are freed before the next
            sdf = qs[name](spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
    except Exception as e:
        return [f"spark error: {e}"], 0
    if name not in oracles:
        return None, len(s_rows)
    try:
        type_problems = oracle_type_problems(con, oracles[name])
        res = con.execute(oracles[name])
        d_cols = [d[0] for d in res.description]
        d_rows = res.fetchall()
    except Exception as e:
        return [f"duckdb error: {e}"], len(s_rows)
    problems = list(type_problems)
    if len(s_rows) != len(d_rows):
        problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"schema spark={sorted(s_cols)} duck={sorted(d_cols)}")
    if not problems:
        hs, hd = table_hash(s_cols, s_rows), table_hash(d_cols, d_rows)
        if hs != hd:
            problems.append(f"valuehash {hs} != {hd}")
            order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
            order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
            set_s = {"|".join(norm_cell(r[i]) for i in order_s) for r in s_rows}
            set_d = {"|".join(norm_cell(r[i]) for i in order_d) for r in d_rows}
            only_s = list(set_s - set_d)[:3]
            only_d = list(set_d - set_s)[:3]
            if only_s:
                problems.append(f"spark-only: {only_s}")
            if only_d:
                problems.append(f"duck-only: {only_d}")
    return problems, len(s_rows)


def check_one(spark, con, name: str, sf_dir: str) -> list[str]:
    """The problems of one registry query against its oracle; empty = ok."""
    problems, _ = compare(spark, con, name, sf_dir)
    return ["no oracle"] if problems is None else problems


def main() -> int:
    filters = [a for a in sys.argv[1:] if not a.startswith("-")]
    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = connect(SF_DIR)

    names = [n for n in _registry()[0] if not filters or any(f in n for f in filters)]
    n_pass = n_fail = n_weak = 0
    for name in names:
        t0 = time.time()
        problems, n_rows = compare(spark, con, name, SF_DIR)
        dt = time.time() - t0
        if problems is None:
            print(f"WEAK  {name:28s} rows={n_rows} (no oracle, rows-only)")
            n_weak += 1
        elif problems:
            print(f"FAIL  {name:28s} {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"ok    {name:28s} rows={n_rows:6d} {dt:5.1f}s")
            n_pass += 1
    print(f"\n{n_pass} ok, {n_fail} fail, {n_weak} weak (rows-only)")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
