"""Invariants of the gate registry and its oracle evidence: every gate is
registered once under its own name, and every gate is hash-green in the
newest full sweep (the CORRECTNESS_r*.json with the highest round number,
written by ``scripts/check_oracle.py --evidence``).

No SparkSession needed — this is pure registry/artifact introspection.
"""

from __future__ import annotations

import ast
import inspect
import json
import pathlib

import __spark_entry__ as em

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_every_gate_has_an_oracle_or_is_documented():
    q, o = em.queries(), em.oracle_sql()
    # the registry currently keeps full oracle coverage; if a genuinely
    # non-SQL-expressible gate is ever added without one, list it here.
    allowed_no_oracle = set()
    missing = [k for k in q if k not in o and k not in allowed_no_oracle]
    assert not missing, f"gates without oracle SQL: {missing}"


def test_every_gate_function_registered_once_under_its_name():
    gate_fns = {
        name: fn for name, fn in vars(em).items()
        if name.startswith("q_") and inspect.isfunction(fn) and fn.__module__ == em.__name__
    }
    q = em.queries()
    assert sorted(gate_fns) == sorted(f"q_{k}" for k in q)
    misbound = {k: fn.__name__ for k, fn in q.items() if gate_fns[f"q_{k}"] is not fn}
    assert not misbound, f"keys bound to another gate's function: {misbound}"
    # a key repeated in the dict literal would be dropped silently
    tree = ast.parse(inspect.getsource(em.queries))
    (ret,) = [n for n in ast.walk(tree) if isinstance(n, ast.Return)]
    keys = [k.value for k in ret.value.keys]
    assert len(keys) == len(set(keys)), sorted(k for k in set(keys) if keys.count(k) > 1)


def test_newest_sweep_is_complete_and_green():
    path = max(REPO.glob("CORRECTNESS_r*.json"), key=lambda p: int(p.stem.split("_r")[1]))
    rows = json.loads(path.read_text())
    gates = set(em.queries())
    assert set(rows) == gates, f"{path.name}: missing {gates - set(rows)}"
    bad = {
        gate: row for gate, row in rows.items()
        if not (row["rows_match"] and row["schema_match"] and row["hash_match"])
        or row["err"] is not None
    }
    assert not bad, f"{path.name}: gates not hash-green: {bad}"
