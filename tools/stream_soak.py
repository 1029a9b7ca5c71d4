#!/usr/bin/env python
"""Streaming wall-clock soak (round-9 verdict, Next round #5).

The registry's streaming rows are EXACT via deterministic slice replay
under ``availableNow`` — correct, but never a TIMER. This soak runs the
ingest pipeline the way the reference's service actually runs
(solarman.py poll loop): a REAL ``Trigger.ProcessingTime`` query firing
every --trigger-interval while a producer thread lands new raw-register
files on wall-clock cadence, then

  1. graceful stop MID-STREAM (GracefulStop.request_stop — the SIGTERM
     path), while the producer keeps writing files the stopped query has
     never seen;
  2. restart from the same checkpoint, still on the timer trigger;
  3. drain, stop, and require the landed fact table to be HASH-EQUAL to
     a single-pass batch transform of every raw file written.

Writes bench_records/r9_stream_soak.json: minutes run, micro-batches
before/after the stop, rows/s, and the equality verdict.

Usage:
    python tools/stream_soak.py [--minutes 3] [--trigger-interval "2 seconds"]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from topocheck import result_hash  # noqa: E402  (this script's dir is on sys.path)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--minutes", type=float, default=3.0)
    ap.add_argument("--trigger-interval", default="2 seconds")
    ap.add_argument("--slice-every-s", type=float, default=3.0)
    args = ap.parse_args()

    import shutil
    import tempfile

    from solis_solarman_clickhouse_spark.ingest.fixture import generate_raw_registers
    from solis_solarman_clickhouse_spark.ingest.pipeline import (
        GracefulStop,
        run_stream,
        transform,
    )
    from solis_solarman_clickhouse_spark.ingest.sink import IdempotentParquetSink
    from solis_solarman_clickhouse_spark.session import get_spark

    spark = get_spark("stream-soak")
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="soak_")
    raw_dir = os.path.join(work, "raw")
    os.makedirs(raw_dir)

    # pre-materialize the full day once; the producer thread re-emits it
    # slice by slice on wall-clock cadence (files landing mid-flight is
    # the point — the file source must pick them up on later triggers)
    full = generate_raw_registers(spark, inverters=3, days=1).cache()
    full.count()
    n_slices_total = 48
    schema = full.schema
    produced = {"n": 0}
    stop_producing = threading.Event()

    from pyspark.sql import functions as F

    slice_key = (F.unix_timestamp("time") / 30).cast("long") % n_slices_total

    def producer():
        i = 0
        while i < n_slices_total and not stop_producing.is_set():
            (
                full.filter(slice_key == i)
                .coalesce(1)
                .write.parquet(os.path.join(raw_dir, f"slice={i:03d}"))
            )
            produced["n"] = i + 1
            i += 1
            time.sleep(args.slice_every_s)

    glob = os.path.join(raw_dir, "slice=*")
    # seed one slice so the stream has a schema source before start
    t_start = time.time()
    prod = threading.Thread(target=producer, daemon=True)
    prod.start()
    while produced["n"] == 0:
        time.sleep(0.1)

    ckpt = os.path.join(work, "ckpt")
    sink = IdempotentParquetSink(os.path.join(work, "fact"))
    stopper = GracefulStop()
    q = run_stream(
        spark, glob, sink, ckpt, schema=schema,
        processing_time=args.trigger_interval,
    )
    stopper.register(q)

    half = args.minutes * 60 / 2
    time.sleep(half)
    batches_first = (q.lastProgress or {}).get("batchId", -1) + 1
    stopper.request_stop()  # graceful mid-stream stop, producer still live
    stopper.wait(poll_s=0.2)
    assert not q.isActive
    t_stopped = time.time()

    # restart from the checkpoint on the SAME timer trigger; run out the
    # remaining soak budget, let the producer finish, then drain
    t_restart = time.time()
    q2 = run_stream(
        spark, glob, sink, ckpt, schema=schema,
        processing_time=args.trigger_interval,
    )
    time.sleep(half)
    prod.join(timeout=n_slices_total * args.slice_every_s + 60)
    stop_producing.set()
    # drain: wait until every produced slice has been committed
    deadline = time.time() + 300
    while time.time() < deadline:
        lp = q2.lastProgress or {}
        src = (lp.get("sources") or [{}])[0]
        if (
            lp.get("batchId", -1) >= 0
            and src.get("numInputRows", -1) == 0
            and lp.get("numInputRows", 1) == 0
        ):
            # one full idle trigger after the last file: check coverage
            landed = sink.read_table(spark).count()
            want = transform(spark.read.parquet(glob)).count()
            if landed == want:
                break
        time.sleep(1.0)
    q2.stop()
    q2.awaitTermination(120)
    batches_second = (q2.lastProgress or {}).get("batchId", -1) + 1 - batches_first

    n_want, h_want = result_hash(transform(spark.read.parquet(glob)))
    n_got, h_got = result_hash(sink.read_table(spark))
    record = {
        "purpose": "real Trigger.ProcessingTime soak: timer micro-batches, "
        "graceful stop mid-stream, checkpoint restart, batch-equality "
        "(verdict r8, next-round #5)",
        "trigger_interval": args.trigger_interval,
        "minutes_requested": args.minutes,
        "minutes_ran": round((time.time() - t_start) / 60, 2),
        "slices_produced": produced["n"],
        "micro_batches_before_stop": batches_first,
        "micro_batches_after_restart": batches_second,
        "stop_to_restart_s": round(t_restart - t_stopped, 1),
        "rows_expected": n_want,
        "rows_landed": n_got,
        "hash_equal": h_want == h_got,
        "rows_per_s": round(n_got / max(time.time() - t_start, 1e-9), 1),
    }
    path = os.path.join(REPO, "bench_records", "r9_stream_soak.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record, indent=1))
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()
    return 0 if record["hash_equal"] else 1


if __name__ == "__main__":
    sys.exit(main())
