"""The two workloads. Each runs one closed-loop client in this process:
an operation starts when the previous one has finished.

- ``dashboard``: short panel queries, whose cost is mostly fixed cost per
  query, one of them on ``operators.asof_join``; in an order drawn from
  the seed each pass.
- ``ingest``: the daemon's write path, raw register files streamed one
  file per micro-batch through decode, derive and the parquet sink.

Each workload warms up with ``WARMUP_PASSES`` untimed passes; the first
``dashboard`` warm-up pass also collects the results the checks compare.
A run then times a fixed number of whole passes, the run's seconds
divided by ``NOMINAL_PASS_S``. A fixed count keeps every run, and both
sides of a comparison, on the same operations, where a time limit would
let the pass count flip with host noise.

Every operation and pass is measured twice: in wall time, and in the CPU
time of the engine's processes (this one, the Spark JVM and its Python
workers) outside the JIT compiler (``observe.EngineCpu``). The CPU figures
are the gated ones: on a shared host, wall time follows the CPU the other
tenants leave, while the kernel keeps CPU steal out of a process's CPU
time. Each is a median over the timed passes. The wall times are printed
beside them as context. Per-layer numbers come only
from a traced run (``ctx.trace``); they are summed over a pass and
reported as the median over passes.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import checks
import inputs
import observe

#: The dashboard's queries, each with the input tables it reads through
#: ``tables.table``: two telemetry panels, an as-of join of orders to the
#: latest event (``operators.asof_join``) and the TPC-H pricing report.
QUERIES = {
    "agg_last_point": ("events",),
    "window_counter_delta": ("events",),
    "join_asof_latest_event": ("orders", "events"),
    "agg_tpch_q1": ("lineitem",),
}

#: Input sizes. ``tiny`` is the self-test's.
SIZES = {
    "full": {"sf": 0.01, "inverters": 4, "files": 4, "slots": 2880},
    "tiny": {"sf": 0.001, "inverters": 2, "files": 4, "slots": 60},
}

#: Seconds one timed pass takes on a 4-vCPU host (README, reference figures).
NOMINAL_PASS_S = {"dashboard": 2, "ingest": 3}

#: Untimed passes before the timed ones. A process's first pass takes 3-6x
#: the CPU of a steady one, and the dashboard's CPU per pass keeps falling,
#: in steps, through its eighth pass (README, warm-up).
WARMUP_PASSES = {"dashboard": 8, "ingest": 5}

INGEST_PHASES = {
    "latestOffset": "latest_offset_ms", "getBatch": "get_batch_ms",
    "queryPlanning": "query_planning_ms", "addBatch": "add_batch_ms",
    "walCommit": "wal_commit_ms", "commitOffsets": "commit_offsets_ms",
}


@dataclass
class Ctx:
    spark: object
    cpu: observe.EngineCpu
    seed: int
    passes: int  # timed passes
    trace: bool
    work: str
    size: dict
    t0: float  # perf_counter() when the process started
    slots: int
    attempted: int = 0
    failed: int = 0
    timed_from: float = 0.0
    errors: list = field(default_factory=list)  # output-check failures
    inputs: dict = field(default_factory=dict)  # fingerprints of input files

    def start_timing(self) -> None:
        self.timed_from = time.perf_counter() - self.t0

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"# operation failed: {what}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)


@dataclass
class Outcome:
    end_to_end: dict
    layers: dict
    samples: dict


def layer_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order."""
    names = ["session.start_s", "tables.table_s", "tables.table_jobs",
             "queries.build_s", "queries.build_jobs", "queries.plan_s",
             "queries.exec_s", "queries.exec_jobs"]
    names += [f"query.{n}_s" for n in QUERIES]
    names += [f"query.{n}_build_jobs" for n in QUERIES]
    names += ["caching.released"]
    names += [f"exec.{k}" for k in observe.EXEC_KEYS] + ["exec.core_busy", "jvm.jit_cpu_s"]
    names += ["ingest.read_s", "ingest.decode_s", "ingest.derive_s", "ingest.sink_s",
              "ingest.sink_jobs", "ingest.sink_files", "ingest.landed_bytes_per_row"]
    names += [f"ingest.pipeline.{v}" for v in INGEST_PHASES.values()]
    names += ["ingest.pipeline.batches"]
    return names


def _medians(per_pass: list[dict]) -> dict[str, float]:
    keys = {k for p in per_pass for k in p}
    return {k: observe.median([p.get(k, 0.0) for p in per_pass]) for k in keys}


# --- read workloads ----------------------------------------------------------

def read_workload(ctx: Ctx, reads: dict[str, tuple[str, ...]]) -> Outcome:
    """``reads``: the queries of one pass, each with the tables it reads."""
    from solis_solarman_clickhouse_spark.caching import release_cached
    from solis_solarman_clickhouse_spark.queries import REGISTRY
    from solis_solarman_clickhouse_spark.tables import TABLE_NAMES

    spark = ctx.spark
    d = os.path.join(ctx.work, "tables")
    inputs.generate_tables(ctx.size["sf"], d, ctx.seed)
    ctx.inputs = inputs.fingerprint_files(
        [os.path.join(d, f"{t}.parquet") for t in TABLE_NAMES])
    names = tuple(reads)
    specs = {n: REGISTRY[n] for n in names}

    collected = {}  # the first warm-up pass's results, checked after timing
    for w in range(WARMUP_PASSES["dashboard"]):
        for n in names:
            try:
                df = specs[n].fn(spark, d)
                if w == 0:
                    collected[n] = (df.columns, df.collect())
                else:
                    df.write.mode("overwrite").format("noop").save()
            except Exception:  # a query missing from ``collected`` fails the checks
                traceback.print_exc(file=sys.stderr)
            finally:
                release_cached()

    ctx.start_timing()
    rng = random.Random(ctx.seed)
    passes: list[dict] = []
    for p in range(ctx.passes):
        order = list(names)
        rng.shuffle(order)
        run_pass = _traced_pass if ctx.trace else _plain_pass
        passes.append(run_pass(ctx, specs, order, reads, d, p))
    e2e = _end_to_end(passes)

    con = checks.duckdb_views(d, TABLE_NAMES)
    for n in names:
        if n not in collected:
            ctx.errors.append(f"{n}: raised in the warm-up pass, so its result went unchecked")
            continue
        cols, rows = collected[n]
        ctx.errors += checks.check_query(n, cols, rows, checks.oracle_rows(con, specs[n].oracle))
    con.close()
    layers = _medians([p["layers"] for p in passes]) if ctx.trace else {}
    return Outcome(e2e, layers, _samples(passes))


def _end_to_end(passes: list[dict]) -> dict:
    """``passes``: each timed pass's ``wall`` and ``cpu`` time, and each
    operation's, by operation, in ``lats`` and ``cpus``. A pass figure is
    the median over passes; an operation's is its median over passes, and
    the ``op_`` figures are the median of those over operations. The CPU
    figures are gated, the wall-time ones context."""
    def op_median(key: str) -> float:
        per_op = defaultdict(list)
        for p in passes:
            for op, t in p[key].items():
                per_op[op].append(t)
        return observe.median([observe.median(v) for v in per_op.values()]) if per_op else 0.0

    return {
        "pass_cpu_s": observe.median([p["cpu"] for p in passes]),
        "op_cpu_p50_s": op_median("cpus"),
        "pass_s": observe.median([p["wall"] for p in passes]),
        "op_p50_s": op_median("lats"),
    }


def _samples(passes: list[dict]) -> dict:
    return {"passes": len(passes), "ops": sum(len(p["cpus"]) for p in passes),
            "pass_s": [p["wall"] for p in passes], "pass_cpu_s": [p["cpu"] for p in passes]}


def _plain_pass(ctx, specs, order, _reads, d, _p) -> dict:
    from solis_solarman_clickhouse_spark.caching import release_cached

    lats, cpus = {}, {}
    t0, c0 = time.perf_counter(), ctx.cpu()
    for n in order:
        ctx.attempted += 1
        s, c = time.perf_counter(), ctx.cpu()
        try:
            specs[n].fn(ctx.spark, d).write.mode("overwrite").format("noop").save()
            lats[n] = time.perf_counter() - s
            cpus[n] = ctx.cpu() - c
        except Exception:
            ctx.fail(n)
        finally:
            release_cached()
    return {"wall": time.perf_counter() - t0, "cpu": ctx.cpu() - c0,
            "lats": lats, "cpus": cpus}


def _traced_pass(ctx, specs, order, reads, d, p) -> dict:
    """One pass with each query split into build, plan and execute, each in
    its own job group. Planning is forced on the built DataFrame's query
    execution, and that same execution is then run, so nothing is planned
    twice. Direct ``tables.table`` calls for the tables each query reads
    run between queries, outside the pass's time."""
    from solis_solarman_clickhouse_spark import tables
    from solis_solarman_clickhouse_spark.caching import release_cached

    spark = ctx.spark
    sc = spark.sparkContext
    lay: dict[str, float] = defaultdict(float)
    build_groups, exec_groups, table_groups = [], [], []
    lats, cpus = {}, {}
    wall = cpu = 0.0
    jit0 = ctx.cpu.compiler_s()
    for n in order:
        g = f"pb{p}.{n}"
        sc.setJobGroup(g + ".tables", "perfbench tables probe")
        s = time.perf_counter()
        for t in reads[n]:
            tables.table(spark, d, t)
        lay["tables.table_s"] += time.perf_counter() - s
        table_groups.append(g + ".tables")

        ctx.attempted += 1
        s, c = time.perf_counter(), ctx.cpu()
        try:
            sc.setJobGroup(g + ".build", "perfbench build")
            df = specs[n].fn(spark, d)
            t1 = time.perf_counter()
            sc.setJobGroup(g + ".exec", "perfbench plan+exec")
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            t2 = time.perf_counter()
            qe.toRdd().count()
            t3 = time.perf_counter()
            lay["queries.build_s"] += t1 - s
            lay["queries.plan_s"] += t2 - t1
            lay["queries.exec_s"] += t3 - t2
            lay[f"query.{n}_s"] = t3 - s
            lats[n] = t3 - s
            cpus[n] = ctx.cpu() - c
        except Exception:
            ctx.fail(n)
        finally:
            lay["caching.released"] += release_cached()
        wall += time.perf_counter() - s
        cpu += ctx.cpu() - c
        build_groups.append(g + ".build")
        exec_groups.append(g + ".exec")

    lay["jvm.jit_cpu_s"] = ctx.cpu.compiler_s() - jit0
    observe.flush_listener_bus(spark)
    for k, v in observe.exec_stats(spark, build_groups + exec_groups).items():
        lay[f"exec.{k}"] = v
    lay["exec.core_busy"] = lay["exec.task_run_s"] / (wall * ctx.slots)
    lay["tables.table_jobs"] = sum(observe.jobs_in(spark, g) for g in table_groups)
    lay["queries.build_jobs"] = sum(observe.jobs_in(spark, g) for g in build_groups)
    lay["queries.exec_jobs"] = sum(observe.jobs_in(spark, g) for g in exec_groups)
    for n in order:
        lay[f"query.{n}_build_jobs"] = observe.jobs_in(spark, f"pb{p}.{n}.build")
    return {"wall": wall, "cpu": cpu, "lats": lats, "cpus": cpus, "layers": dict(lay)}


# --- ingest ------------------------------------------------------------------

def ingest_workload(ctx: Ctx) -> Outcome:
    from solis_solarman_clickhouse_spark.ingest.pipeline import run_stream
    from solis_solarman_clickhouse_spark.ingest.sink import IdempotentParquetSink

    spark = ctx.spark
    raw_dir = os.path.join(ctx.work, "raw")
    paths = inputs.generate_raw(raw_dir, ctx.seed, inverters=ctx.size["inverters"],
                                files=ctx.size["files"], slots=ctx.size["slots"])
    ctx.inputs = inputs.fingerprint_files(paths)
    listener = observe.progress_listener(spark)

    def drain(k: int) -> dict | None:
        """Stream every raw file into a fresh sink, one file per trigger."""
        sink_dir = os.path.join(ctx.work, f"sink-{k}")
        sink = _CpuMarkingSink(IdempotentParquetSink(sink_dir), ctx.cpu)
        s, c, jit = time.perf_counter(), ctx.cpu(), ctx.cpu.compiler_s()
        try:
            q = run_stream(spark, raw_dir, sink, os.path.join(ctx.work, f"ckpt-{k}"))
            q.awaitTermination()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            return None
        wall, cpu = time.perf_counter() - s, ctx.cpu() - c
        jit = ctx.cpu.compiler_s() - jit
        batches = _await_progress(listener, str(q.runId), len(paths))
        # micro-batch i's CPU: from its sink write to the next one's, the
        # last one's to the stream's end
        marks = sink.marks + [c + cpu]
        return {"wall": wall, "cpu": cpu, "jit": jit, "batches": batches, "sink": sink_dir,
                "group": str(q.runId),
                "lats": {i: b["triggerExecution"] / 1e3 for i, b in enumerate(batches)},
                "cpus": {i: b - a for i, (a, b) in enumerate(zip(marks, marks[1:]))}}

    warm = []
    for k in range(WARMUP_PASSES["ingest"]):
        r = drain(k)
        if r is None:
            ctx.errors.append(f"warm-up stream {k} raised, so its output went unchecked")
        else:
            warm.append(r)
    ctx.start_timing()
    drains: list[dict] = []
    first = WARMUP_PASSES["ingest"]
    for k in range(first, first + ctx.passes):
        ctx.attempted += len(paths)
        r = drain(k)
        if r is None:
            ctx.failed += len(paths)
            continue
        ctx.failed += len(paths) - len(r["batches"])
        drains.append(r)
    if not drains:
        raise RuntimeError("no micro-batch stream completed")

    batches = [b for r in drains for b in r["batches"]]
    e2e = _end_to_end(drains)  # the i-th micro-batch of every stream reads the same file

    layers = {}
    if ctx.trace:
        layers = _ingest_layers(ctx, paths, drains, batches)
    expected = checks.recompute(paths)
    for r in warm + drains:
        ctx.errors += checks.check_landed(r["sink"], expected)
    spark.streams.removeListener(listener)
    return Outcome(e2e, layers, _samples(drains))


class _CpuMarkingSink:
    """The program's sink, with the engine's CPU time noted each time a
    micro-batch reaches it (``foreachBatch`` runs in this process)."""

    def __init__(self, sink, cpu: observe.EngineCpu) -> None:
        self.sink = sink
        self.cpu = cpu
        self.marks: list[float] = []

    def foreach_batch(self):
        write = self.sink.foreach_batch()

        def marked(df, batch_id: int) -> None:
            self.marks.append(self.cpu())
            write(df, batch_id)

        return marked


def _await_progress(listener, run_id: str, n: int, timeout_s: float = 30.0) -> list[dict]:
    """Progress events reach the listener asynchronously; wait for ``n``."""
    end = time.monotonic() + timeout_s
    while len(listener.batches.get(run_id, [])) < n and time.monotonic() < end:
        time.sleep(0.02)
    return listener.batches.get(run_id, [])


def _ingest_layers(ctx: Ctx, paths, drains, batches) -> dict:
    spark = ctx.spark
    observe.flush_listener_bus(spark)
    per_drain = []
    for r in drains:
        st = observe.exec_stats(spark, [r["group"]])
        lay = {f"exec.{k}": v for k, v in st.items()}
        lay["exec.core_busy"] = st["task_run_s"] / (r["wall"] * ctx.slots)
        lay["jvm.jit_cpu_s"] = r["jit"]
        files = checks.landed_files(r["sink"])
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        lay["ingest.landed_bytes_per_row"] = sum(os.path.getsize(f) for f in files) / rows
        lay["ingest.pipeline.batches"] = len(r["batches"])
        per_drain.append(lay)
    out = _medians(per_drain)
    for key, name in INGEST_PHASES.items():
        out[f"ingest.pipeline.{name}"] = observe.median([b.get(key, 0) for b in batches])
    out.update(_prefix_probe(ctx, paths[len(paths) // 2 - 1]))
    return out


def _prefix_probe(ctx: Ctx, path: str, reps: int = 3) -> dict:
    """Cumulative prefixes of the pipeline on one raw file: the raw read,
    + decode, + derive (all forced by a noop write), then the full
    ``run_batch`` into a sink. Each layer's self time is the difference
    between consecutive prefix medians."""
    from solis_solarman_clickhouse_spark.ingest.decode import decode_registers
    from solis_solarman_clickhouse_spark.ingest.pipeline import run_batch, transform
    from solis_solarman_clickhouse_spark.ingest.sink import IdempotentParquetSink

    spark = ctx.spark
    sc = spark.sparkContext
    schema = spark.read.parquet(path).schema
    times: dict[str, list[float]] = defaultdict(list)
    jobs, files = [], []
    for rep in range(reps):
        raw = spark.read.schema(schema).parquet(path)
        for name, df in (("read", raw), ("decode", decode_registers(raw)),
                         ("derive", transform(raw))):
            s = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            times[name].append(time.perf_counter() - s)
        out = os.path.join(ctx.work, f"probe-{rep}")
        group = f"pb.sink.{rep}"
        sc.setJobGroup(group, "perfbench sink probe")
        s = time.perf_counter()
        run_batch(raw, IdempotentParquetSink(out))
        times["sink"].append(time.perf_counter() - s)
        jobs.append(observe.jobs_in(spark, group))
        files.append(len(checks.landed_files(out)))
        shutil.rmtree(out, ignore_errors=True)
    m = {k: observe.median(v) for k, v in times.items()}
    return {
        "ingest.read_s": m["read"],
        "ingest.decode_s": m["decode"] - m["read"],
        "ingest.derive_s": m["derive"] - m["decode"],
        "ingest.sink_s": m["sink"] - m["derive"],
        "ingest.sink_jobs": observe.median(jobs),
        "ingest.sink_files": observe.median(files),
    }


WORKLOADS = {
    "dashboard": lambda ctx: read_workload(ctx, QUERIES),
    "ingest": ingest_workload,
}
