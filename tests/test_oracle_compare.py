"""The Spark-vs-DuckDB oracle check (``oracle_compare``) and the tool that
runs it over the registry (``tools/sweep.py``): a time-bounded oracle call
that leaves its connection usable, one-line verdicts, a catalog over the
tables that exist, and a sweep whose exit status reports a bad query."""

from __future__ import annotations

import dataclasses
import importlib.util
import os
import shutil

import pandas as pd
import pytest

from solis_solarman_clickhouse_spark.oracle_compare import (
    OracleTimeout,
    catalog,
    run_oracle,
    verdict,
)
from solis_solarman_clickhouse_spark.queries import REGISTRY

from .conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_oracle_timeout_leaves_connection_usable(tmp_path):
    con = catalog(str(tmp_path))
    with pytest.raises(OracleTimeout):
        run_oracle(con, "SELECT sum(i * i) FROM range(1000000000000) t(i)", 0.2)
    got = run_oracle(con, "SELECT 41 + 1 AS x", 0.2)
    assert got["x"].tolist() == [42]


def test_verdict_names_column_set_mismatch():
    v = verdict(pd.DataFrame({"a": [1], "b": [2]}), pd.DataFrame({"a": [1], "c": [2]}))
    assert v.startswith("COLUMN-MISMATCH") and "'b'" in v and "'c'" in v


def test_verdict_int_vs_float_names_first_differing_row():
    spark = pd.DataFrame({"k": [1, 2, 3], "v": [10, 20, 30]})
    oracle = pd.DataFrame({"k": [1, 2, 3], "v": [10, 20.0, 30]})  # v widens to float64
    assert verdict(spark, spark.copy()) is None
    v = verdict(spark, oracle)
    assert v.startswith("MISMATCH 3 vs 3 rows; first differing row 0:")
    assert "'i:10'" in v and "'f:10.0000'" in v


def test_verdict_row_count_mismatch():
    v = verdict(pd.DataFrame({"a": [1, 2]}), pd.DataFrame({"a": [1]}))
    assert v == "MISMATCH 2 vs 1 rows; first differing row 1: spark=('i:2',) oracle=None"


def test_catalog_registers_only_existing_tables(tmp_path):
    for t in ("region", "nation"):
        shutil.copy(os.path.join(SF_DIR, f"{t}.parquet"), tmp_path)
    con = catalog(str(tmp_path))
    assert sorted(r[0] for r in con.execute("SHOW TABLES").fetchall()) == [
        "nation", "region"]
    assert run_oracle(con, "SELECT count(*) AS n FROM region")["n"].tolist() == [5]


def _sweep():
    spec = importlib.util.spec_from_file_location(
        "sweep", os.path.join(ROOT, "tools", "sweep.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_sweep_exit_status_reports_bad_queries(spark, monkeypatch, capsys):
    sweep = _sweep()
    assert sweep.main(["--only=no_such_query"]) == 2
    assert "no_such_query" in capsys.readouterr().err

    name = "scan_pruned_projection"
    assert sweep.main([SF_DIR, f"--only={name}"]) == 0
    assert f"{name} OK" in capsys.readouterr().out

    wrong = "SELECT l_orderkey, l_extendedprice FROM lineitem LIMIT 0"
    monkeypatch.setitem(REGISTRY, name, dataclasses.replace(REGISTRY[name], oracle=wrong))
    assert sweep.main([SF_DIR, f"--only={name}"]) == 1
    out = capsys.readouterr().out
    assert f"{name} MISMATCH" in out and "SWEEP DONE" in out and "0 ok, 1 bad" in out
