"""Physical-execution metrics introspection — the observability surface a
query engine owes its operators (ClickHouse exposes this as
system.query_log; Spark keeps it on the executed plan's SQL metrics).

`run_with_metrics(df)` forces the plan with a noop write (full
computation, no driver collect) and walks the executed-plan tree
collecting the per-operator SQLMetrics Spark already maintains:
rows/bytes out of every scan, shuffle bytes written, spill sizes. Used by
tests to ASSERT scale properties numerically (e.g. a pruned scan reads
fewer bytes than a full scan) rather than by plan-string matching alone,
and available to operators for regression tracking.

`profile(spark, group)` is the per-query counterpart of
system.query_log: the jobs, stages and tasks a block of work ran, with
their executor time, shuffle, spill and GC, read in-process from the
status store the driver keeps even with the UI off. bench.py records one
per headline row.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def _walk(node, out: list) -> None:
    out.append(node)
    for i in range(node.children().size()):
        _walk(node.children().apply(i), out)
    # AQE wraps stages; descend into materialized stage plans
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        _walk(node.executedPlan(), out)
    elif cls.endswith("QueryStageExec"):
        _walk(node.plan(), out)
    elif cls == "WholeStageCodegenExec" or cls == "InputAdapter":
        pass  # children() already descends through codegen wrappers


def run_with_metrics(df: DataFrame) -> dict[str, int]:
    """Execute `df` (noop write — computes everything, collects nothing)
    and return aggregated physical metrics:

    - scan_rows / scan_bytes: rows and bytes produced by file scans
    - shuffle_write_bytes: total shuffle data written
    - spill_bytes: memory+disk spill across operators
    - peak_rows_out: max rows output by any single operator
    """
    qe = df._jdf.queryExecution()
    # Execute THIS QueryExecution's plan (a df.write/.collect would build a
    # fresh QueryExecution and leave these metrics at zero): materialize
    # the plan's RDD — full computation, nothing shipped to the driver
    # beyond partition counts.
    qe.toRdd().count()
    plan = qe.executedPlan()
    nodes: list = []
    _walk(plan, nodes)

    agg = {"scan_rows": 0, "scan_bytes": 0, "shuffle_write_bytes": 0,
           "shuffle_write_rows": 0, "spill_bytes": 0, "peak_rows_out": 0}
    for n in nodes:
        cls = n.getClass().getSimpleName()
        metrics = n.metrics()
        it = metrics.iterator()
        while it.hasNext():
            kv = it.next()
            name, metric = kv._1(), kv._2()
            val = metric.value()
            if cls.startswith("FileSourceScan"):
                if name == "numOutputRows":
                    agg["scan_rows"] += val
                elif name in ("filesSize", "staticFilesSize"):
                    agg["scan_bytes"] += val
            if name == "shuffleBytesWritten" or name == "bytesWritten" and "Shuffle" in cls:
                agg["shuffle_write_bytes"] += val
            if name == "shuffleRecordsWritten":
                agg["shuffle_write_rows"] += val
            if "spill" in name.lower():
                agg["spill_bytes"] += val
            if name == "numOutputRows":
                agg["peak_rows_out"] = max(agg["peak_rows_out"], val)
    return agg


@contextmanager
def profile(spark: SparkSession, group: str):
    """Run the block under Spark job group ``group`` and, on exit, fill the
    yielded dict with what its jobs ran:

    - jobs, stages, tasks: stages skipped because their shuffle output
      already existed (AQE resubmits every query stage that way) are not
      counted, nor their tasks;
    - task_run_s, task_cpu_s, gc_s: executor time summed over tasks;
    - shuffle_read_mb, shuffle_write_mb, spill_mb (memory + disk);
    - top_stages: up to 6 stages by executor run time, each with its
      name, ms and tasks.

    Jobs a streaming query runs on its own thread belong to that query's
    group and are not counted; jobs of an earlier block under the same
    ``group`` are. The status store keeps the last 1000 jobs and stages,
    so a block must run fewer than that to be counted whole.
    """
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    out: dict = {}
    try:
        yield out
    finally:
        sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out.update(_group_stats(sc, group))


def _group_stats(sc, group: str) -> dict:
    from py4j.protocol import Py4JJavaError

    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    mb = 1 << 20
    stages = []
    for sid in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted from the store
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        stages.append({
            "name": sd.name().split("\n")[0][:80],
            "ms": sd.executorRunTime(),
            "tasks": sd.numCompleteTasks(),
            "task_cpu_s": sd.executorCpuTime() / 1e9,
            "shuffle_read_mb": sd.shuffleReadBytes() / mb,
            "shuffle_write_mb": sd.shuffleWriteBytes() / mb,
            "spill_mb": (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / mb,
            "gc_s": sd.jvmGcTime() / 1e3,
        })

    def total(key: str) -> float:
        return round(sum(st[key] for st in stages), 3)

    top = sorted(stages, key=lambda st: -st["ms"])[:6]
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(st["tasks"] for st in stages),
        "task_run_s": round(sum(st["ms"] for st in stages) / 1e3, 3),
        "task_cpu_s": total("task_cpu_s"),
        "shuffle_read_mb": total("shuffle_read_mb"),
        "shuffle_write_mb": total("shuffle_write_mb"),
        "spill_mb": total("spill_mb"),
        "gc_s": total("gc_s"),
        "top_stages": [{k: st[k] for k in ("name", "ms", "tasks")} for st in top],
    }
