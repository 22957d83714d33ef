"""``scripts/check_oracle.py`` on three stand-in gates: a gate that
raises is recorded and the sweep goes on, and ``--evidence`` writes one
CORRECTNESS_r*.json row per gate run. An ``sf_dir`` that is not a
directory is rejected before anything starts."""

from __future__ import annotations

import importlib.util
import json
import pathlib

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as em
from annotation_service_spark.sources.testdata import load_table

SCRIPT = pathlib.Path(__file__).resolve().parent.parent / "scripts" / "check_oracle.py"
SF = "/root/testdata/sf0.001"


def _nation(key_offset=0, raises=False):
    def gate(spark, sf_dir):
        nation = load_table(spark, sf_dir, "nation")
        if raises:
            return nation.select(F.raise_error(F.lit("stand-in gate failed")))
        return nation.select((F.col("n_nationkey") + key_offset).alias("n_nationkey"), "n_name")

    return gate


def _script():
    spec = importlib.util.spec_from_file_location("check_oracle", SCRIPT)
    script = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(script)
    return script


def test_sf_dir_not_a_directory_is_an_argument_error(monkeypatch, capsys):
    """A gate name in the sf_dir slot stops at argument parsing, naming
    the argument, before a Spark session or a DuckDB view starts."""
    script = _script()

    def started(*_a, **_k):
        raise AssertionError("started before the argument check")

    monkeypatch.setattr(script, "get_session", started)
    monkeypatch.setattr(script.duckdb, "connect", started)
    with pytest.raises(SystemExit) as exc:
        script.main(["annotate", "annotate_asof"])
    assert exc.value.code == 2
    err = capsys.readouterr().err
    assert "sf_dir 'annotate' is not a directory" in err


def test_sweep_records_every_gate_and_survives_a_raising_one(
    spark, tmp_path, monkeypatch, capsys
):
    script = _script()
    gates = {"raises": _nation(raises=True), "matches": _nation(), "differs": _nation(1)}
    monkeypatch.setattr(em, "queries", lambda: gates)
    oracle = "SELECT n_nationkey, n_name FROM nation"
    monkeypatch.setattr(em, "oracle_sql", lambda: dict.fromkeys(gates, oracle))
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", SF)
    out = tmp_path / "evidence.json"

    assert script.main([SF, "--evidence", str(out)]) == 1
    rows = json.loads(out.read_text())
    err = rows["raises"]["err"]
    assert err.split(":")[0].endswith("Exception") and "stand-in gate failed" in err
    matches = dict(rows_match=True, schema_match=True, hash_match=True)
    green = dict(matches, spark_rows=25, oracle_rows=25, err=None)
    failed = dict.fromkeys(matches, False) | dict(spark_rows=None, oracle_rows=None)
    assert list(rows) == ["raises", "matches", "differs"]
    assert rows == {
        "raises": {**failed, "err": err},
        "matches": green,
        "differs": {**green, "hash_match": False},
    }
    lines = capsys.readouterr().out.splitlines()
    assert f"raises: FAIL {err}" in lines and "matches: OK (25 rows)" in lines
    assert any(ln.startswith("differs: FAIL VALUES differ") for ln in lines)
    assert lines[-1] == "1/3 OK"

    assert script.main([SF, "matches", "--evidence", str(out)]) == 0
    assert list(json.loads(out.read_text())) == ["matches"]
