"""Bench-record tooling: bench.py's compact stdout line stays under its
1900-char budget, tools/scalecheck.py refuses a per-query map that
holds fewer rows than the record's ``n_queries``, and the result hash
that tools/topocheck.py and tools/stream_soak.py compare runs with is
blind to row and column order."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

from bench import fit_line

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TIMINGS = {f"headline_query_{i:03d}": 1.0 + i / 100 for i in range(200)}
#: result_hash of the rows in the test below; recorded hashes compare only
#: while it stays byte-identical
HASH_A = "46b9014c53bb63e291f29201837e2ca122a46299f23f8255c2f70d06399bcb1d"


def _record(sf: float, timings: dict) -> dict:
    return {"metric": "headline_queries_total_runtime", "value": 1.0,
            "unit": "sec", "n_queries": len(TIMINGS), "queries": timings,
            "sf": sf}


def _scalecheck(tmp_path, a: dict, b: dict):
    pa, pb = tmp_path / "a.json", tmp_path / "b.json"
    pa.write_text(json.dumps(a))
    pb.write_text(json.dumps(b))
    return subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "scalecheck.py"),
         str(pa), str(pb)],
        capture_output=True, text=True,
    )


def test_scalecheck_rejects_truncated_summary(tmp_path):
    line = json.loads(fit_line(_record(1.0, {}), TIMINGS))
    n = len(line["queries"])
    assert 0 < n < len(TIMINGS)  # the compact line's slowest-first prefix
    res = _scalecheck(tmp_path, _record(0.1, TIMINGS), line)
    assert res.returncode != 0
    assert f"holds {n} of {len(TIMINGS)} queries" in res.stderr
    res = _scalecheck(tmp_path, _record(0.1, TIMINGS), _record(1.0, TIMINGS))
    assert res.returncode == 0, res.stderr
    assert f"{len(TIMINGS)} common queries" in res.stdout


def test_fit_line_holds_budget_even_when_base_exceeds_it():
    line = fit_line(_record(0.1, {}), TIMINGS)
    kept = list(json.loads(line)["queries"].values())
    assert len(line) <= 1900
    assert kept == sorted(TIMINGS.values(), reverse=True)[: len(kept)]
    base = dict(_record(0.1, {}), ingest={"note": "x" * 2500},
                queries_file="bench_full.json")
    line = fit_line(base, TIMINGS)
    assert len(line) <= 1900
    assert json.loads(line)["metric"] == "headline_queries_total_runtime"


def _topocheck():
    spec = importlib.util.spec_from_file_location(
        "topocheck", os.path.join(ROOT, "tools", "topocheck.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_result_hash_ignores_row_and_column_order_and_rounds_floats(spark):
    result_hash = _topocheck().result_hash
    a = spark.createDataFrame(
        [(1, 0.123456, "x"), (2, None, "y"), (3, -0.00001, "z")],
        "k int, v double, s string")
    b = spark.createDataFrame(
        [("z", 0.0, 3), ("y", None, 2), ("x", 0.12346, 1)],
        "s string, v double, k int")
    c = spark.createDataFrame(
        [(1, 0.1236, "x"), (2, None, "y"), (3, 0.0, "z")],
        "k int, v double, s string")
    assert result_hash(a) == result_hash(b)
    assert result_hash(a) != result_hash(c)
    assert result_hash(a) == (3, HASH_A)
