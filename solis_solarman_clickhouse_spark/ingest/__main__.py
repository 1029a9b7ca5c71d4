"""Daemon entrypoint: ``python -m solis_solarman_clickhouse_spark.ingest``.

The Spark analogue of the reference's module-level run loop
(solarman.py:405-422): build the session, start the streaming ingest
pipeline, block until SIGTERM/SIGINT, drain, and exit 0. Configuration via
env, mirroring the reference's contract:

  INGEST_RAW_PATH        raw-register parquet directory to stream
                         (unset → generate the synthetic fixture and batch-run it)
  INGEST_SINK_PATH       output table root            (default ./data/fact)
  INGEST_CHECKPOINT      streaming checkpoint         (default ./data/ckpt)
"""

from __future__ import annotations

import os
import sys

from ..session import get_spark
from .fixture import generate_raw_registers
from .pipeline import GracefulStop, run_batch, run_stream
from .sink import IdempotentParquetSink


def main() -> int:
    spark = get_spark("solis-solarman-ingest")
    sink = IdempotentParquetSink(os.environ.get("INGEST_SINK_PATH", "./data/fact"))
    raw_path = os.environ.get("INGEST_RAW_PATH")

    if not raw_path:
        # one-shot batch over the synthetic fixture (container smoke mode)
        run_batch(generate_raw_registers(spark, inverters=2, days=1), sink)
        print("batch ingest complete", file=sys.stderr)
        return 0

    stopper = GracefulStop()
    stopper.install()
    query = run_stream(
        spark, raw_path, sink, os.environ.get("INGEST_CHECKPOINT", "./data/ckpt")
    )
    stopper.register(query)
    stopper.wait()
    print("ingest stopped cleanly", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
