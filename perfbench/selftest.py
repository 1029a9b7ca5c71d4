"""Self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py

1. Every output check passes on the program's real output and fails on
   altered output: a changed cell and a dropped row in a query result; a
   changed cell, a dropped row and a micro-batch replayed into a new batch
   directory in the landed ingest table.
2. Every workload runs end to end on tiny inputs (sf0.001 tables, a few
   hundred raw rows), untraced and traced. Each run must exit 0, check its
   outputs correct, report operations attempted and failed, and print
   exactly the metric names and units that BENCHMARK.json lists.

Exits non-zero on the first failed assertion. Takes about three minutes.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"FAIL: {what}")
    print(f"ok: {what}")


def check_failures(work: str) -> None:
    from solis_solarman_clickhouse_spark.caching import release_cached
    from solis_solarman_clickhouse_spark.ingest.pipeline import run_stream
    from solis_solarman_clickhouse_spark.ingest.sink import IdempotentParquetSink
    from solis_solarman_clickhouse_spark.queries import REGISTRY
    from solis_solarman_clickhouse_spark.session import get_spark
    from solis_solarman_clickhouse_spark.tables import TABLE_NAMES

    tables_dir = os.path.join(work, "tables")
    inputs.generate_tables(0.001, tables_dir, 3)
    raw_dir = os.path.join(work, "raw")
    paths = inputs.generate_raw(raw_dir, 3, inverters=2, files=3, slots=120)
    spark = get_spark("perfbench-selftest", cpus=2)
    try:
        con = checks.duckdb_views(tables_dir, TABLE_NAMES)
        for name in ("agg_tpch_q1", "ts_twap"):
            df = REGISTRY[name].fn(spark, tables_dir)
            cols, rows = df.columns, [tuple(r) for r in df.collect()]
            release_cached()
            oracle = checks.oracle_rows(con, REGISTRY[name].oracle)
            expect(not checks.check_query(name, cols, rows, oracle), f"{name} matches its oracle")
            changed = list(rows)
            i = next(k for k, c in enumerate(cols) if isinstance(rows[0][k], float))
            changed[0] = rows[0][:i] + (rows[0][i] + 0.01,) + rows[0][i + 1:]
            expect(bool(checks.check_query(name, cols, changed, oracle)),
                   f"{name}: check fails on one changed cell")
            expect(bool(checks.check_query(name, cols, rows[1:], oracle)),
                   f"{name}: check fails on one dropped row")

        sink = os.path.join(work, "sink")
        q = run_stream(spark, raw_dir, IdempotentParquetSink(sink), os.path.join(work, "ckpt"))
        q.awaitTermination()
    finally:
        run._stop(spark)

    expected = checks.recompute(paths)
    expect(not checks.check_landed(sink, expected), "landed table matches the recompute")
    files = [f for f in checks.landed_files(sink) if pq.ParquetFile(f).metadata.num_rows > 1]

    def altered(alter) -> list[str]:
        copy = os.path.join(work, "altered")
        shutil.rmtree(copy, ignore_errors=True)
        shutil.copytree(sink, copy)
        alter(copy)
        return checks.check_landed(copy, expected)

    def change_cell(copy: str) -> None:
        p = files[0].replace(sink, copy)
        t = pq.read_table(p)
        name = "ac_actual_watts"
        col = t.column(name).to_pylist()
        col[0] += 1
        pq.write_table(t.set_column(t.column_names.index(name), name,
                                    pa.array(col, t.schema.field(name).type)), p)

    def drop_row(copy: str) -> None:
        p = files[0].replace(sink, copy)
        pq.write_table(pq.read_table(p).slice(1), p)

    def replay(copy: str) -> None:
        first = sorted(glob.glob(os.path.join(copy, "batch_id=*")))[0]
        shutil.copytree(first, os.path.join(copy, "batch_id=99"))

    expect(bool(altered(change_cell)), "ingest check fails on one changed cell")
    expect(bool(altered(drop_row)), "ingest check fails on one dropped row")
    errs = altered(replay)
    expect(any("more than once" in e for e in errs),
           "ingest check fails on a micro-batch replayed into a new batch directory")


def end_to_end() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    for w in bench["workloads"]:
        for tr in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                   "--seed", "5", "--seconds", "1", "--trace", str(tr), "--size", "tiny"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            expect(p.returncode == 0, f"{w['name']} trace={tr} exits 0")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            expect(sorted(res) == ["attempted", "correct", "failed", "metrics"],
                   f"{w['name']} trace={tr} prints exactly the result keys")
            expect(res["correct"] is True, f"{w['name']} trace={tr} outputs are correct")
            expect(isinstance(res["attempted"], int) and res["attempted"] >= 1
                   and isinstance(res["failed"], int),
                   f"{w['name']} trace={tr} reports attempted={res['attempted']} "
                   f"failed={res['failed']}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want[tr], f"{w['name']} trace={tr} metric names and units "
                   "match BENCHMARK.json")


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    run._isolate(work)
    try:
        check_failures(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    end_to_end()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
