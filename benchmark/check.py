"""Output checks against DuckDB.

* Registry queries: the untimed check pass writes the layout of
  ``graft.Verify`` (``oracle_sql.json`` plus ``<name>/*.parquet``), so the
  repository's own checker, ``tools/check.py``, compares every result with
  DuckDB running the query's ``SparkEntry.oracleSql`` over the same
  parquet tables. A query that ran but has no oracle SQL also fails.
* Dialect queries: each result file (the reference's QueryMain format)
  is compared with the DuckDB SQL the generator emitted beside the query,
  run over the same ``.txt`` files. Rows compare as a multiset; ORDERBY
  queries also compare the sequence of their order-key column.

Each function returns a list of ``(name, problem)`` for every mismatch.
"""
import contextlib
import importlib.util
import io
import json
import os
from collections import Counter

import duckdb

import datagen


def oracle_gate():
    """The repository's ``tools/check.py``, loaded by path (its module
    name is this module's)."""
    spec = importlib.util.spec_from_file_location(
        "repo_tools_check", os.path.join(os.getcwd(), "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_registry(data_dir: str, results_dir: str, names: list) -> list:
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad = [(n, "no oracle SQL, so the result cannot be checked")
           for n in names if n not in oracles]
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = oracle_gate().main(data_dir, results_dir)
    fails = [line[5:].partition(": ") for line in out.getvalue().splitlines()
             if line.startswith("FAIL ")]
    bad += [(name, why[:300]) for name, _, why in fails]
    if rc != 0 and not fails:
        bad.append(("tools/check.py", f"exited with {rc}"))
    return bad


def _parse(path: str):
    with open(path) as f:
        header = f.readline().rstrip("\n")
        cols = [c for c in header.split("  ") if c]
        rows = [line.rstrip("\n").split("\t")[:-1] for line in f]
    return cols, rows


def _canon(v, kind):
    """Typed value of a result cell; floats to 12 significant digits."""
    if v is None or v == "-NULL-":
        return None
    if kind is float:
        return float(f"{float(v):.12g}")
    return kind(v)


def check_dialect(data_dir: str, results_dir: str, queries: list) -> list:
    con = duckdb.connect()
    for stmt in datagen.kaj_duckdb_views(data_dir):
        con.execute(stmt)
    bad = []
    for q in queries:
        cols, rows = _parse(os.path.join(results_dir, f"{q['id']}.out"))
        cur = con.execute(q["duckdb"])
        want_cols = [d[0] for d in cur.description]
        want = cur.fetchall()
        if cols != want_cols:
            bad.append((q["id"], f"columns {cols} vs {want_cols}"))
            continue
        if len(rows) != len(want):
            bad.append((q["id"], f"rows {len(rows)} vs {len(want)}"))
            continue
        kinds = [next((type(w[i]) for w in want if w[i] is not None), str)
                 for i in range(len(cols))]
        canon = lambda row: tuple(_canon(v, k) for v, k in zip(row, kinds))
        if Counter(map(canon, rows)) != Counter(map(canon, want)):
            bad.append((q["id"], "row values differ"))
            continue
        for c in q["order"]:
            i = cols.index(c)
            seq = [int(r[i]) for r in rows]
            if seq != sorted(seq, reverse=q["desc"]):
                bad.append((q["id"], f"not ordered by {c}"))
    return bad
