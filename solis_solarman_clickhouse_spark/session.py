"""SparkSession factory tuned for this engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
configuration is what we would ship to a 1000-executor cluster, with the
cluster-manager settings (executor count/memory) supplied by the deployment,
not this module. Everything set here is scale-neutral:

- AQE on (runtime shuffle coalescing, skew-join splitting, dynamic
  broadcast conversion) — the main lever that keeps hand-written plans
  honest at 100 TB.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE's coalescing makes the initial number far less sensitive.
- UTC session timezone (oracle comparisons and the reference's epoch
  handling, solarman.py:308, are UTC).
- Arrow enabled for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` on the session for the duration of the block, then
    put every key back as it was, also when the block raises: its old
    value, or unset when it had none. Library calls use this so they
    never leave a conf changed on the caller's session."""
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def pinned_shuffle(spark: SparkSession, n: int | None = None, *, aqe: bool | None = None):
    """Pin ``spark.sql.shuffle.partitions`` to the session's actual
    parallelism for the duration of an ITERATIVE query's driver loop,
    restoring the caller's value afterwards. Round-based queries pay a
    fixed per-barrier cost proportional to the shuffle-partition count:
    under a vanilla 200-partition session, each of an iterative query's
    R rounds schedules 200 (mostly empty) tasks per stage — measured 4×
    on graph_kcore_onion and minutes-not-seconds on the convergence-loop
    variants. Pinning INSIDE the query (the round-5 verdict's
    prescription) makes the cost depend on the session's true cores, not
    on whether the caller used get_spark(). Scale-neutral: on a real
    cluster defaultParallelism is the executor-core total, exactly what
    a |V|-sized per-round state wants; the query's persisted round
    states are materialized (and their partitioning frozen) inside the
    loop, so the caller's config only shapes the final cosmetic stage.

    ``aqe=False`` additionally disables adaptive execution for the
    loop's in-loop materializations (restored on exit, so the RETURNED
    final plan still runs adaptive under the caller's conf). Rationale
    (optimization round 9, measured): each round's plan is a fixed tiny
    shape whose exchanges are already explicitly sized by
    :func:`loop_partitions`, so AQE has nothing to coalesce — but its
    per-query-stage re-optimization adds driver round-trips to every
    barrier of every round (min-of-3 interleaved at sf0.1:
    graph_kcore_full 21.2 s → 11.9 s, graph_pagerank_converged 12.3 s →
    10.9 s). Callers only pass aqe=False for loops whose join keys are
    STRUCTURALLY skew-free (the affinity graph's degree ≤ 6 by
    construction) — AQE skew-splitting stays on everywhere data could
    concentrate."""
    n = n or spark.sparkContext.defaultParallelism
    confs = {"spark.sql.shuffle.partitions": str(n)}
    if aqe is not None:
        confs["spark.sql.adaptive.enabled"] = str(aqe).lower()
    return scoped_conf(spark, confs)


#: AQE's target post-coalesce partition size; also the denominator of
#: the shuffle-partition derivation below. Deployment knob.
_ADVISORY_MB_DEFAULT = 64


def _fixture_bytes() -> int:
    """Compressed on-disk size of the bench fixture dir (SPARK_GRAFT_SF_DIR),
    0 when unset — a cheap stat-only proxy for input scale."""
    d = os.environ.get("SPARK_GRAFT_SF_DIR", "")
    if not d or not os.path.isdir(d):
        return 0
    total = 0
    for root, _dirs, files in os.walk(d):
        for f in files:
            if f.endswith(".parquet"):
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return total


def scaled_shuffle_partitions(n_cores: int, input_bytes: int, advisory_mb: int) -> int:
    """Scale-aware shuffle-partition default: max(cores, input/advisory),
    clamped at 4096. AQE coalesces DOWN toward the advisory size but
    never splits UP (beyond skew-join handling), so the initial number
    must be an overestimate at scale: a 100x input on the same session
    would otherwise funnel through cores-many oversized partitions and
    spill. Locally every fixture is far below cores x 64 MB, so this
    resolves to cores — same plans, same bench numbers (measured, see
    README "Reproducing the bench"); on a cluster the deployment sets
    SPARK_GRAFT_ADVISORY_MB (or advisoryPartitionSizeInBytes directly)
    and the derivation, fed by real input size, scales the start count
    with the data while AQE trims the excess."""
    derived = input_bytes // (advisory_mb << 20)
    return max(8, n_cores, min(4096, derived))


def loop_partitions(
    spark: SparkSession, n_rows: int | None, row_bytes: int = 32
) -> int:
    """Partition count for an ITERATIVE query's in-loop exchanges (the
    per-round state/edge shuffles under :func:`pinned_shuffle`), derived
    from the loop relation's ROW COUNT instead of the core count —
    guide §2's "make partitioning scale-adaptive" applied where AQE
    cannot act: the loop's joins are pinned against a persisted
    key-partitioned relation, so AQE must keep every in-loop exchange at
    the full partition count to preserve co-partitioning, and a
    round-based query pays that count in (mostly empty) tasks PER ROUND
    — measured 32 tasks/stage x ~3 stages x ~31 rounds on
    graph_pagerank_converged at sf0.1 for a |V|=15 k state.

    Sizing mirrors AQE's own coalescing policy, brought to the loop:
    - floor of ~2 MB of rows per task (AQE's minPartitionSize class) —
      below that, task scheduling dominates and fewer partitions win;
    - at most the session parallelism while a single advisory-sized
      partition per core still fits (parallelismFirst semantics);
    - above cores x advisory, grow with the data (advisory-sized
      partitions, capped at 4096 like scaled_shuffle_partitions).
    Locally every fixture graph resolves to 1; on a cluster the same
    formula fed by a billion-edge relation lands in the hundreds.
    ``None``/unknown row counts fall back to the session parallelism
    (the previous behavior)."""
    n_cores = spark.sparkContext.defaultParallelism
    if not n_rows or n_rows <= 0:
        return n_cores
    advisory_mb = _parse_advisory_mb(os.environ.get("SPARK_GRAFT_ADVISORY_MB"))
    total = n_rows * row_bytes
    by_min_task = total // (2 << 20)
    by_advisory = total // (advisory_mb << 20)
    return max(1, min(n_cores, by_min_task), min(4096, by_advisory))


def _parse_advisory_mb(raw: str | None) -> int:
    """Documented deployment knob: tolerate junk (empty, non-numeric, 0,
    negative) by falling back to the default instead of crashing session
    startup — but WARN when the var was set and ignored, so a typo'd
    tuning intent ("128MB", "0") doesn't vanish silently."""
    if raw is None:
        return _ADVISORY_MB_DEFAULT
    try:
        advisory_mb = int(raw)
    except ValueError:
        advisory_mb = 0
    if advisory_mb >= 1:
        return advisory_mb
    import warnings

    warnings.warn(
        f"SPARK_GRAFT_ADVISORY_MB={raw!r} is not a positive integer; "
        f"using default {_ADVISORY_MB_DEFAULT} MB",
        stacklevel=2,
    )
    return _ADVISORY_MB_DEFAULT


def get_spark(app_name: str = "solis-solarman-spark", *, cpus: int | None = None) -> SparkSession:
    n = cpus or default_parallelism()
    advisory_mb = _parse_advisory_mb(os.environ.get("SPARK_GRAFT_ADVISORY_MB"))
    shuffle_n = scaled_shuffle_partitions(n, _fixture_bytes(), advisory_mb)
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", f"{advisory_mb}m"
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's coalesce floor (default 1 MB) binds ONLY when a shuffle is
        # byte-small — and a byte-small exchange is NOT compute-small for
        # the engine's per-row HOF folds (collect_list windows + sequential
        # fold queries: ~100 interpreted expression nodes x 20 elements per
        # row over ~60-80 B rows). At the default floor the whole ts/window
        # family coalesced to 2-3 tasks and ran serial; at 64 KB those
        # stages keep ~cores partitions (measured interleaved min-of-3 at
        # sf0.1: ts_kalman_1d 1.78->0.76 s, ch_exp_time_decayed_avg
        # 1.84->0.68 s, ts_matrix_profile 1.47->0.80 s; scan/agg controls
        # unchanged). Scale-neutral: any production-sized exchange exceeds
        # both floors, where the advisory size governs as before.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
