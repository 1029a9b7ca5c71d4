"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 16 --trace 0

Runs one workload (``dashboard`` or ``ingest``) from the root
of a source checkout. The inputs are generated from ``--seed`` under
``.perfbench_work/`` in the checkout and removed at the end. The last line
of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
holds the run's fingerprint and sample counts. See perfbench/README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END_UNITS = {"setup_s": "s", "pass_cpu_s": "s", "op_cpu_p50_s": "s"}

#: get_spark() settings recorded in the fingerprint (bench.py's list).
SESSION_KEYS = (
    "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
    "spark.driver.memory", "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.autoBroadcastJoinThreshold", "spark.master",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize",
)

#: Deployment knobs that get_spark() reads from the environment. The
#: benchmark clears them so every run uses the program's defaults.
CLEARED_ENV = ("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_ADVISORY_MB",
               "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_CPUS", "PYSPARK_SUBMIT_ARGS")


def layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("bytes_per_row"):
        return "B/row"
    if name.endswith("core_busy"):
        return "ratio"
    return "count"


def _isolate(work: str) -> None:
    """Keep every file the run writes inside ``work``, in the checkout."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    for k in CLEARED_ENV:
        os.environ.pop(k, None)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Fixed JIT compiler threads, so their CPU time can be told apart
    # (observe.EngineCpu); the compiler's work is the same either way.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads")
    os.environ["TZ"] = "UTC"
    time.tzset()
    tempfile.tempdir = None  # re-read TMPDIR


def _stop(spark) -> None:
    """Stop the session and the JVM gateway, and wait until the JVM and the
    Python workers it started have exited."""
    from pyspark import SparkContext
    from py4j.protocol import Py4JError

    import observe

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = observe.descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
        gateway.shutdown()
    except Py4JError:  # a signal cut a gateway call short; the JVM still exits below
        traceback.print_exc(file=sys.stderr)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    observe.wait_gone(workers)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["dashboard", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="timed passes = seconds / the workload's nominal pass time")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input size; tiny is for the self-test")
    args = ap.parse_args(argv)
    # A caller's timeout sends SIGTERM: exit through the finally below, so
    # the JVM is stopped and the work directory removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    _isolate(work)
    spark = None
    try:
        import observe
        import workloads
        from solis_solarman_clickhouse_spark.session import get_spark

        cpu0 = observe.cpu_times()
        slots = observe.slots()
        s = time.perf_counter()
        spark = get_spark("perfbench", cpus=slots)
        start_s = time.perf_counter() - s
        passes = max(1, round(args.seconds / workloads.NOMINAL_PASS_S[args.workload]))
        ctx = workloads.Ctx(spark=spark, cpu=observe.EngineCpu(observe.jvm_pid(spark)),
                            seed=args.seed, passes=passes,
                            trace=bool(args.trace), work=work,
                            size=workloads.SIZES[args.size], t0=T0, slots=slots)
        out = workloads.WORKLOADS[args.workload](ctx)
        peak = observe.peak_rss_mb([os.getpid(), observe.jvm_pid(spark)])
        session = {k: spark.conf.get(k, None) for k in SESSION_KEYS}
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # another run's work directory is still there

    e2e = dict(out.end_to_end, setup_s=ctx.timed_from, peak_rss_mb=peak)
    if args.trace:
        layers = dict.fromkeys(workloads.layer_names(), 0.0)
        layers.update(out.layers, **{"session.start_s": start_s})
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    for e in ctx.errors:
        print(f"# check failed: {e}", file=sys.stderr)
    info = {
        "workload": args.workload, "trace": args.trace, "samples": out.samples,
        "end_to_end": e2e,
        "fingerprint": {
            "seed": args.seed, "size": args.size, "inputs": ctx.inputs,
            "session": session, "task_slots": slots,
            "cpu_steal_share": observe.steal_share(cpu0, observe.cpu_times()),
        },
    }
    print(json.dumps(info))
    print(json.dumps({"correct": not ctx.errors, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
