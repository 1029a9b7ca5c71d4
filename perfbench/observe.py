"""What the benchmark reads from Spark and the host, outside the program.

- Execution statistics per Spark job group, from the status store the
  driver keeps anyway (the UI may be off; the store is not).
- Structured Streaming progress, one record per micro-batch, through a
  listener: ``recentProgress`` keeps only the last 100 batches.
- The engine's CPU time outside the JIT compiler, peak resident memory of
  the JVM and of this process, and the CPU-steal share of the host, from
  ``/proc``.
"""

from __future__ import annotations

import os
import statistics
import time

EXEC_KEYS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "gc_s",
)


def flush_listener_bus(spark) -> None:
    """Wait until the status store has seen every finished task."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def exec_stats(spark, groups) -> dict[str, float]:
    """Summed execution statistics of every job in ``groups``.

    Call :func:`flush_listener_bus` first. A stage shared by two jobs
    counts once; skipped stages count as stages but add no tasks.
    """
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs: set[int] = set()
    for g in groups:
        jobs.update(tracker.getJobIdsForGroup(g))
    stages: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    out = dict.fromkeys(EXEC_KEYS, 0.0)
    out["jobs"] = float(len(jobs))
    out["stages"] = float(len(stages))
    mb = 1 << 20
    for s in stages:
        try:
            sd = store.lastStageAttempt(s)
        except Py4JJavaError:  # evicted from the store, which keeps the last 1000
            continue
        out["tasks"] += sd.numCompleteTasks()
        out["task_run_s"] += sd.executorRunTime() / 1e3
        out["task_cpu_s"] += sd.executorCpuTime() / 1e9
        out["shuffle_read_mb"] += sd.shuffleReadBytes() / mb
        out["shuffle_write_mb"] += sd.shuffleWriteBytes() / mb
        out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / mb
        out["gc_s"] += sd.jvmGcTime() / 1e3
    return out


def jobs_in(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def progress_listener(spark):
    """Register and return a listener that keeps every batch's
    ``durationMs`` and input row count, keyed by the query's run id."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches: dict[str, list[dict]] = {}

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            if p.numInputRows:  # the final empty trigger of availableNow
                self.batches.setdefault(str(p.runId), []).append(
                    dict(p.durationMs, rows=p.numInputRows)
                )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def descendants(pid: int) -> list[int]:
    """Every process below ``pid`` in the process tree."""
    parent = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
    out, todo = [], [pid]
    while todo:
        top = todo.pop()
        kids = [c for c, p in parent.items() if p == top]
        out += kids
        todo += kids
    return out


def wait_gone(pids, timeout_s: float = 30.0) -> None:
    end = time.monotonic() + timeout_s
    while any(os.path.exists(f"/proc/{p}") for p in pids):
        if time.monotonic() > end:
            raise TimeoutError(f"processes {pids} still running")
        time.sleep(0.05)


def peak_rss_mb(pids) -> float:
    """Sum over ``pids`` of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user .. steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


_TICK = os.sysconf("SC_CLK_TCK")


def _stat_cpu_s(path: str, reaped: bool = False) -> float:
    """utime + stime from a ``/proc`` stat file, plus cutime + cstime (the
    children it has waited for) when ``reaped``."""
    with open(path) as fh:
        st = fh.read()
    f = st.rsplit(")", 1)[1].split()
    ticks = int(f[11]) + int(f[12]) + (int(f[13]) + int(f[14]) if reaped else 0)
    return ticks / _TICK


class EngineCpu:
    """A clock of the CPU seconds the engine has used: this process and
    every process below it (the Spark JVM, its Python workers), less the
    JVM's JIT compiler threads.

    The kernel keeps CPU steal out of these counts, so another tenant of
    the host adds wall time but not CPU time. The JIT compiler's work is
    left out because it is the JVM's warm-up: a long-running engine pays it
    once, and in a run of a minute it is still compiling, at 2-6 CPU-s a
    pass that fall from pass to pass. run.py starts the JVM with
    ``-XX:-UseDynamicNumberOfCompilerThreads``, so compiler threads never
    exit and take their CPU time with them."""

    def __init__(self, jvm: int) -> None:
        self.jvm = jvm

    def compiler_s(self) -> float:
        total = 0.0
        for tid in os.listdir(f"/proc/{self.jvm}/task"):
            path = f"/proc/{self.jvm}/task/{tid}/stat"
            try:
                with open(path) as fh:
                    head = fh.read(64)
                if "CompilerThre" in head:
                    total += _stat_cpu_s(path)
            except OSError:
                continue  # the thread ended since listdir()
        return total

    def __call__(self) -> float:
        total = 0.0
        for pid in [os.getpid()] + descendants(os.getpid()):
            try:
                total += _stat_cpu_s(f"/proc/{pid}/stat", reaped=True)
            except OSError:
                continue  # ended since descendants() looked
        return total - self.compiler_s()


def median(xs) -> float:
    return float(statistics.median(xs))


def slots() -> int:
    """Task slots: the CPUs this process may run on (``nproc``)."""
    return len(os.sched_getaffinity(0))
