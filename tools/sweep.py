#!/usr/bin/env python
"""Driver simulation: run registry queries that have an oracle on a
vanilla SparkSession and DuckDB over the same parquet, compare through
the driver-faithful pandas path (``oracle_compare``: sorted columns,
sorted rows, typed cell tags), and print one line per query. Usage:

    python tools/sweep.py /root/testdata/sf0.01 [--only=q1,q2,...]
        [--width-sensitive] [--shard=i/N] [--resume-log=FILE]
        [--driver-mem=4g] [--oracle-mem=24GB] [--oracle-timeout=180]

``--only`` checks just the named queries. An unknown name or flag exits 2
before Spark starts. The exit status is 1 when any query printed MISMATCH,
COLUMN-MISMATCH or ERROR; ORACLE-TIMEOUT is a skip, not a failure.

``--width-sensitive`` additionally compares the pandas DTYPE of every
output column between the two engines (int32 vs int64 etc.) and prints a
``WIDTH`` line per divergent column — the defensive audit for an
external comparator whose hash might be integer-width-sensitive.

4g driver default: 420+ queries share one JVM; the default 1g heap OOMed
on accumulated session state ~400 queries in (vec_mmr at sf0.1). The
periodic System.gc() below bounds the drift. At sf1.0 pass
--driver-mem=16g (toPandas of 1M-row results plus session drift blew
4g). ``--resume-log`` skips every query that has an OK or ORACLE-TIMEOUT
line in a prior run's log; ``--shard=i/N`` runs only the i-th slice
(index mod N) of the sorted selection so several processes can split one
SF; ``--oracle-mem`` bounds each process's DuckDB. A handful of oracles
are intentionally pairwise and intractable in DuckDB beyond the driver's
correctness SFs (one measured 95 GB RSS at sf1.0), so the oracle is also
interrupted past ``--oracle-timeout`` seconds (0 = unlimited).
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from solis_solarman_clickhouse_spark.oracle_compare import (  # noqa: E402
    OracleTimeout,
    catalog,
    run_oracle,
    verdict,
)
from solis_solarman_clickhouse_spark.queries import REGISTRY  # noqa: E402


def _resume_done(path: str) -> set[str]:
    # prior OK/timeout rows are skipped; prior MISMATCH/ERROR re-run (the
    # fix being retested is the usual reason for a resume)
    done = set()
    with open(path) as fh:
        for line in fh:
            m = re.search(
                r"(?:^|\x1b\[[0-9;]*m|\r| )([a-z_0-9]+) (OK|ORACLE-TIMEOUT)", line
            )
            if m:
                done.add(m.group(1))
    return done


FLAGS = {"only", "width-sensitive", "shard", "resume-log", "driver-mem",
         "oracle-mem", "oracle-timeout"}


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    opts = dict(a[2:].partition("=")[::2] for a in argv if a.startswith("--"))
    args = [a for a in argv if not a.startswith("--")]
    if set(opts) - FLAGS or len(args) > 1:
        print(__doc__, file=sys.stderr)
        return 2
    sf = args[0] if args else "/root/testdata/sf0.01"
    width_sensitive = "width-sensitive" in opts
    shard_i, shard_n = (int(x) for x in opts.get("shard", "0/1").split("/"))
    timeout_s = float(opts.get("oracle-timeout", 180))
    names = sorted(REGISTRY)
    if "only" in opts:
        names = sorted(set(opts["only"].split(",")))
        unknown = [n for n in names if n not in REGISTRY]
        if unknown:
            print(f"unknown query names: {', '.join(unknown)}", file=sys.stderr)
            return 2
    resume_done = set()
    if "resume-log" in opts:
        resume_done = _resume_done(opts["resume-log"])
        print(f"# resume: skipping {len(resume_done)} finished queries", flush=True)

    from pyspark.sql import SparkSession

    from solis_solarman_clickhouse_spark.caching import release_cached

    # vanilla on purpose, like the driver's: no configs from session.py
    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.driver.memory", opts.get("driver-mem", "4g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = catalog(sf, memory_limit=opts.get("oracle-mem", "24GB"))

    n_ok = n_bad = n_width = n_done = n_skip = 0
    for qi, name in enumerate(names):
        if qi % shard_n != shard_i or name in resume_done:
            continue
        spec = REGISTRY[name]
        if spec.oracle is None:
            if "only" in opts:
                print(f"{name} NO-ORACLE", flush=True)
            continue
        t0 = time.time()
        try:
            spdf = spec.fn(spark, sf).toPandas()
            opdf = run_oracle(con, spec.oracle, timeout_s)
            bad = verdict(spdf, opdf)
            if width_sensitive:
                for c in sorted(set(spdf.columns) & set(opdf.columns)):
                    ds, do = str(spdf[c].dtype), str(opdf[c].dtype)
                    # datetime64[ns] (Spark toPandas) vs datetime64[us]
                    # (DuckDB .df()) is pandas RESOLUTION, not value width:
                    # driver-sampled timestamp queries (agg_last_point,
                    # ch_arg_min_max) hash-match green, and the canonical
                    # cell repr str()s both identically. Suppress so the
                    # audit's signal stays "integer width only".
                    if ds.startswith("datetime64") and do.startswith("datetime64"):
                        continue
                    if ds != do:
                        print(f"{name} WIDTH {c}: spark={ds} oracle={do}", flush=True)
                        n_width += 1
        except OracleTimeout:
            print(f"{name} ORACLE-TIMEOUT after {timeout_s:.0f}s "
                  "(spark side ran; oracle skipped)", flush=True)
            n_skip += 1
            continue
        except Exception as exc:  # noqa: BLE001 - one bad query must not end the sweep
            print(f"{name} ERROR {type(exc).__name__}: {exc}"[:300], flush=True)
            n_bad += 1
            continue
        finally:
            n_done += 1
            release_cached()
            if n_done % 50 == 0:
                spark.catalog.clearCache()
                spark._jvm.System.gc()
        if bad:
            n_bad += 1
            print(f"{name} {bad}", flush=True)
        else:
            n_ok += 1
            print(f"{name} OK {len(spdf)} rows {time.time() - t0:.1f}s", flush=True)
    tail = f", {n_width} width-divergent cols" if width_sensitive else ""
    if n_skip:
        tail += f", {n_skip} oracle-timeout skips"
    print(f"SWEEP DONE sf={sf}: {n_ok} ok, {n_bad} bad{tail}", flush=True)
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())
