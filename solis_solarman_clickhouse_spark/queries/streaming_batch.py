"""Q-STRM: event-time windowing semantics (SURVEY.md §2-C Q-STRM-1..6).

Tumbling / sliding / session / dedup run as batch plans here (identical
operators work unchanged under readStream — Structured Streaming executes
the same logical plan per micro-batch); their oracles are exact SQL.
The genuinely-streaming runs (watermark cut, stream-stream join, both
custom stateful operators) earn EXACT oracles through deterministic
in-event-time-order slice replay (_write_event_time_slices): under
in-order arrival their landed output provably equals a batch
computation DuckDB can replay. Only the register-fixture ingest
replay (stream_ingest_e2e) stays SMOKE — its input has no SQL-side twin.

Window alignment note: Spark's window() origin is the epoch; DuckDB
time_bucket's origin for minute buckets is 2000-01-01, which is itself
5/10-minute aligned to the epoch, so bucket starts agree.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import pinned_shuffle, scoped_conf
from ..tables import table
from .registry import query, r4, sql_dsum

_DEC = T.DecimalType(38, 6)


def _write_event_time_slices(df, ts_col: str = "ts", n_slices: int = 4,
                             prefix: str = "slices_") -> tuple[str, str]:
    """Write ``df`` as n contiguous event-time slices, ONE parquet file
    per slice with strictly increasing pinned mtimes, so the streaming
    file source replays them IN EVENT-TIME ORDER (part-files from a
    single write share an mtime and replay in arbitrary order — the
    nondeterminism that keeps a stateful stream run from being
    oracle-comparable). Returns (workdir, source_dir)."""
    import shutil

    workdir = tempfile.mkdtemp(prefix=prefix)
    src = os.path.join(workdir, "src")
    os.makedirs(src)
    b = df.agg(
        F.min(F.unix_micros(ts_col)).alias("lo"),
        F.max(F.unix_micros(ts_col)).alias("hi"),
    ).first()
    lo, hi = b["lo"], b["hi"]
    sliced = df.withColumn(
        "_sl",
        F.least(
            F.lit(n_slices - 1),
            F.expr(f"(unix_micros({ts_col}) - {lo}L) * {n_slices} DIV {hi - lo + 1}L"),
        ),
    )
    for i in range(n_slices):
        part_dir = os.path.join(workdir, f"slice_{i}")
        (
            sliced.where(F.col("_sl") == i)
            .drop("_sl")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(part_dir)
        )
        part = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"slice_{i}.parquet")
        shutil.copy(os.path.join(part_dir, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    return workdir, src


@query(
    "stream_tumbling_window", eager=True,
    category="streaming",
    oracle=f"""
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, event_type,
           COUNT(*) AS n, {sql_dsum('value')} AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_window(spark, sf_dir):
    """Q-STRM-1: 5-minute tumbling window aggregate (the Grafana
    $__timeGroup query the reference's 30 s cadence implies, SURVEY.md §2-B)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(_DEC)).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


@query(
    "stream_sliding_window", eager=True,
    category="streaming",
    oracle=f"""
    WITH e AS (SELECT time_bucket(INTERVAL '5 minutes', ts) AS tb, event_type, value FROM events),
    w AS (
      SELECT tb AS window_start, event_type, value FROM e
      UNION ALL
      SELECT tb - INTERVAL '5 minutes' AS window_start, event_type, value FROM e
    )
    SELECT window_start, event_type, COUNT(*) AS n, {sql_dsum('value')} AS sum_value
    FROM w GROUP BY 1, 2
    """,
)
def stream_sliding_window(spark, sf_dir):
    """Q-STRM-2: 10-minute window sliding every 5 minutes — each event lands
    in exactly two windows; the oracle replicates that with an explicit
    two-bucket expansion."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(_DEC)).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


@query(
    "stream_session_window", eager=True,
    category="streaming",
    oracle="""
    WITH flags AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM flags
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
)
def stream_session_window(spark, sf_dir):
    """Q-STRM-3: session windows with a 30-minute gap per user. Spark's
    session_window is used purely as the grouping key; outputs are min/max
    event times so semantics align exactly with the gaps-and-islands oracle
    (a gap of exactly 30 min starts a new session — [start, start+gap)
    windows merge only on overlap)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )


@query(
    "stream_dedup_first", eager=True,
    category="streaming",
    oracle="""
    SELECT event_id, MIN(ts) AS first_ts, COUNT(*) AS n_copies
    FROM events GROUP BY event_id
    """,
)
def stream_dedup_first(spark, sf_dir):
    """Q-STRM-4: duplicate-id resolution keeping the earliest timestamp —
    batch equivalent of streaming dropDuplicates on event_id (the fixture
    injects ~1% duplicate ids with later ts at sf>=0.01)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_id").agg(
        F.min("ts").alias("first_ts"), F.count(F.lit(1)).alias("n_copies")
    )


@query(
    "stream_watermark_late_data", eager=True,
    category="streaming",
    oracle="""
    WITH b AS (SELECT MAX(epoch_us(ts)) AS hi FROM events),
    agg AS (
      SELECT (epoch_us(ts) // 300000000) * 300000000 AS ws, event_type,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT make_timestamp(ws) AS window_start, event_type, n
    FROM agg, b WHERE ws + 300000000 <= b.hi - 600000000
    """,
)
def stream_watermark_late_data(spark, sf_dir):
    """Q-STRM-5: genuine multi-batch streaming run with a 10-minute
    watermark: events replayed in 4 in-event-time-order files (one per
    micro-batch, pinned mtimes); append mode emits only windows
    finalized by the advancing watermark. EXACT (upgraded from SMOKE):
    under in-order replay no row is ever late, so the landed output is
    precisely the batch tumbling aggregate restricted to windows whose
    END the terminal watermark (max ts − 10 min) has passed — which the
    oracle computes directly. The LATE-row exclusion semantics (the
    interesting half) get their own EXACT row via
    stream_watermark_cut_exact's deliberately-late replay schedule."""
    ev = table(spark, sf_dir, "events")
    workdir, src = _write_event_time_slices(ev, prefix="strm5_")

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = "strm5_out"
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        F.col("w.start").alias("window_start"), "event_type", "n"
    )


@query(
    "stream_watermark_cut_exact", eager=True,
    category="streaming",
    oracle="""
    WITH b AS (SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events),
    e AS (
      SELECT event_id, event_type, epoch_us(ts) AS us,
             LEAST(3, ((epoch_us(ts) - b.lo) * 4) // (b.hi - b.lo + 1)) AS sl
      FROM events, b
    ),
    e2 AS (
      SELECT event_type, us,
             CASE WHEN event_id % 50 = 0 THEN LEAST(sl + 1, 3) ELSE sl END AS arr
      FROM e
    ),
    sm AS (SELECT arr, MAX(us) AS mx FROM e2 GROUP BY arr),
    wm AS (SELECT arr, MAX(mx) OVER (ORDER BY arr) - 600000000 AS wm_us FROM sm),
    kept AS (
      SELECT e2.event_type, e2.us FROM e2
      LEFT JOIN wm ON wm.arr = e2.arr - 2
      WHERE e2.arr <= 1
         OR wm.wm_us IS NULL
         OR (us // 300000000) * 300000000 + 300000000 > wm.wm_us
    )
    SELECT make_timestamp((us // 300000000) * 300000000) AS window_start,
           event_type, COUNT(*) AS n
    FROM kept GROUP BY 1, 2
    """,
)
def stream_watermark_cut_exact(spark, sf_dir):
    """Q-STRM-5 with an EXACT row: the append-mode watermark late-row cut
    computed declaratively, so DuckDB can replay it bit-for-bit. The replay
    schedule is deterministic: events split into 4 contiguous event-time
    slices (integer quartiles of the epoch-us range); rows with
    event_id % 50 == 0 arrive one slice LATE. Structured Streaming drops a
    row in batch i iff its 5-minute window's END is at or below the
    late-events watermark for that batch — which is the PREVIOUS batch's
    watermark (Spark splits eventTimeWatermarkForLateEvents from
    ...ForEviction so the filter lags eviction by one batch), i.e. max
    event time over batches <= i-2 minus the 10-minute delay. That rule is
    pure integer arithmetic over the slices (verified empirically against
    the real engine by the paired test). Output = the tumbling aggregate over
    surviving rows. tests/test_streaming.py runs the SAME schedule through
    an actual withWatermark/append readStream (one file per slice, replayed
    in order) and asserts row-for-row equality with this batch plan, so the
    engine's watermark semantics — not just a smoke run — are pinned.
    Scale shape: one broadcast 1-row bounds join, one 4-row watermark dim
    join, one tumbling aggregation; everything else is codegen arithmetic."""
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    )
    e = (
        ev.select("event_id", "event_type", F.unix_micros("ts").alias("us"))
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            "us",
            F.least(
                F.lit(3),
                F.expr("(us - lo) * 4 DIV (hi - lo + 1)"),
            ).alias("sl"),
            (F.col("event_id") % 50 == 0).alias("late"),
        )
        .select(
            "event_type",
            "us",
            F.when(F.col("late"), F.least(F.col("sl") + 1, F.lit(3)))
            .otherwise(F.col("sl"))
            .alias("arr"),
        )
    )
    sm = e.groupBy("arr").agg(F.max("us").alias("mx"))
    from pyspark.sql import Window as W

    wm = sm.select(
        "arr",
        (F.max("mx").over(W.orderBy("arr").rowsBetween(W.unboundedPreceding, W.currentRow))
         - 600_000_000).alias("wm_us"),
    )
    kept = (
        e.join(
            F.broadcast(wm.select((F.col("arr") + 2).alias("arr"), "wm_us")),
            "arr",
            "left",
        )
        .where(
            (F.col("arr") <= 1)
            | F.col("wm_us").isNull()
            | (F.expr("us DIV 300000000") * 300_000_000 + 300_000_000 > F.col("wm_us"))
        )
    )
    return (
        kept.groupBy(
            F.timestamp_micros(F.expr("us DIV 300000000") * 300_000_000).alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "stream_counter_rate_stateful", eager=True,
    category="streaming",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts, MAX(value) AS value FROM events GROUP BY user_id, ts
    ),
    d AS (
      SELECT user_id, ts,
             CAST(ROUND((value - LAG(value) OVER w) * 100) AS BIGINT) AS delta_c
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    )
    SELECT CAST(user_id AS VARCHAR) AS key,
           COUNT(*) AS n_samples,
           CAST(COUNT(delta_c) AS BIGINT) AS n_deltas,
           CAST(SUM(delta_c) AS BIGINT) / 100.0 AS total_delta,
           arg_max(delta_c, ts) / 100.0 AS last_delta
    FROM d GROUP BY user_id
    """,
)
def stream_counter_rate_stateful(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState): per-user counter
    delta over the events stream, ValueState carrying the last-seen sample
    across micro-batches — the TRUE-streaming form of lag(). EXACT
    (upgraded from SMOKE): the replay is 4 in-event-time-order slices
    (one file per trigger, pinned mtimes), under which the stateful
    operator's emitted deltas provably equal the batch lag() — the
    oracle replays that with a window. Deltas are quantized to exact
    cents (the metric is 2-dp, so round(delta*100) is deterministic on
    both engines) and the per-key aggregate — sample count, delta count,
    exact total and latest delta — is pure integer arithmetic. The
    rate-per-hour output of the operator itself stays covered by the
    batch-lag equality test in tests/test_streaming.py."""
    from ..streaming.stateful import streaming_counter_rate

    ev = (
        table(spark, sf_dir, "events")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    workdir, src = _write_event_time_slices(ev, prefix="strmrate_")

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    rates = streaming_counter_rate(stream, key="user_id", ts="ts", value="value")
    name = "strm_rate_out"
    q = (
        rates.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    delta_c = F.round(F.col("delta") * 100).cast("long")
    return (
        spark.table(name)
        .select("key", "ts", delta_c.alias("delta_c"))
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.count("delta_c").alias("n_deltas"),
            (F.sum("delta_c") / 100.0).alias("total_delta"),
            (F.max_by("delta_c", F.col("ts")) / 100.0).alias("last_delta"),
        )
    )


@query("stream_ingest_e2e", eager=True, category="streaming", check="SMOKE")
def stream_ingest_e2e(spark, sf_dir):
    """Q-STRM-6: the reference's full A1-A14 pipeline replayed as a stream —
    raw u16 registers → decode (32-bit combine + scale) → derive (watts,
    clamped efficiency, zero-DC drop) → batchId-idempotent parquet sink
    (month-partitioned, sorted by (inverter, time) mirroring
    /root/reference/tables.sql:32)."""
    from ..ingest.fixture import generate_raw_registers
    from ..ingest.pipeline import run_stream
    from ..ingest.sink import IdempotentParquetSink

    workdir = tempfile.mkdtemp(prefix="strm6_")
    raw_path = os.path.join(workdir, "raw")
    raw = generate_raw_registers(spark, inverters=3, days=1)
    raw.repartitionByRange(4, "time").write.mode("overwrite").parquet(raw_path)

    sink = IdempotentParquetSink(os.path.join(workdir, "fact"))
    q = run_stream(spark, raw_path, sink, os.path.join(workdir, "ckpt"))
    q.awaitTermination()

    fact = sink.read_table(spark)
    return (
        fact.groupBy("inverter")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            r4(F.max("inverter_efficiency_percent").cast("double")).alias("max_eff"),
            F.max("kwh_total").alias("kwh_total_last"),
        )
    )


@query(
    "stream_peak_tracker_tws", eager=True,
    category="streaming",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts, MAX(value) AS value FROM events GROUP BY user_id, ts
    )
    SELECT CAST(user_id AS VARCHAR) AS key,
           COUNT(*) AS n_samples,
           MAX(value) AS final_peak,
           COUNT(*) AS final_n
    FROM ev GROUP BY user_id
    """,
)
def stream_peak_tracker_tws(spark, sf_dir):
    """Custom stateful operator targeting the Spark 4 transformWithState
    API: per-user running peak via a StatefulProcessor with typed
    ValueState, state crossing micro-batch boundaries
    (maxFilesPerTrigger=1 forces multi-trigger replay). The TWS Python
    worker needs google.protobuf, absent from this container, so the
    operator transparently falls back to the identical processor on
    applyInPandasWithState (see streaming/transform_state.py); on a
    protobuf-equipped cluster the TWS path runs with the RocksDB
    provider. EXACT (upgraded from SMOKE): with the in-event-time-order
    slice replay, every sample is emitted exactly once and the final
    per-key state (peak, n) provably equals MAX(value)/COUNT(*) — which
    the oracle computes directly; the per-row running-peak == cummax
    equivalence stays asserted in tests/test_streaming.py (both the TWS
    and the fallback path, parametrized)."""
    from ..streaming.transform_state import streaming_peak_tracker, tws_available

    ev = (
        table(spark, sf_dir, "events")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    workdir, src = _write_event_time_slices(ev, prefix="strmtws_")

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    peaks = streaming_peak_tracker(stream, key="user_id", ts="ts", value="value")
    name = "strm_tws_out"
    rocksdb = {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    }
    with scoped_conf(spark, rocksdb if tws_available() else {}):
        q = (
            peaks.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", os.path.join(workdir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            # the running peak involves NO arithmetic (cummax of the raw
            # metric), so the final peak is exactly MAX(value)
            F.max("running_peak").alias("final_peak"),
            F.max("n_seen").alias("final_n"),
        )
    )


@query(
    "stream_static_enrich", eager=True,
    category="streaming",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts, MAX(value) AS value
      FROM events GROUP BY user_id, ts
    ),
    j AS (
      SELECT COALESCE(c.c_mktsegment, '<none>') AS segment, e.value
      FROM ev e LEFT JOIN customer c ON e.user_id = c.c_custkey
    )
    SELECT segment, COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 4)
             AS sum_value
    FROM j GROUP BY segment
    """,
)
def stream_static_enrich(spark, sf_dir):
    """Stream-static join: the streaming events replay enriched against
    the STATIC customer dimension (the reference's targets.json config
    table in §2-A terms) — stateless per-batch broadcast join, the
    standard streaming-ETL enrichment. No watermark needed (no stream
    state); the static side is re-resolvable per micro-batch, which is
    how dimension updates propagate mid-stream on a real deployment.
    EXACT (upgraded from SMOKE): append-mode enrichment emits every
    input row exactly once whatever the trigger boundaries, so the
    landed per-segment aggregate hash-matches a batch join — the
    stream-static counterpart of stream_incremental_mv's contract.
    Batch-join equivalence is also asserted in tests/test_streaming.py."""
    ev = (
        table(spark, sf_dir, "events")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    workdir = tempfile.mkdtemp(prefix="strmenrich_")
    src = os.path.join(workdir, "src")
    ev.repartitionByRange(4, "ts").write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    enriched = stream.join(F.broadcast(cust), "user_id", "left")
    name = "strm_enrich_out"
    q = (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(name)
        .groupBy(F.coalesce(F.col("c_mktsegment"), F.lit("<none>")).alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            r4(F.sum(F.col("value").cast("decimal(38,6)")).cast("double")).alias("sum_value"),
        )
    )


@query(
    "stream_stream_interval_join", eager=True,
    category="streaming",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts, MAX(event_type) AS event_type
      FROM events GROUP BY user_id, ts
    ),
    v AS (SELECT user_id, ts FROM ev WHERE event_type = 'view'),
    p AS (SELECT user_id, ts FROM ev WHERE event_type = 'purchase')
    SELECT p.user_id, COUNT(*) AS n_view_purchase_pairs
    FROM p JOIN v ON v.user_id = p.user_id
      AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
    GROUP BY p.user_id
    """,
)
def stream_stream_interval_join(spark, sf_dir):
    """Stream-STREAM join: purchases joined to the same user's views
    within the preceding hour, both sides true streams with watermarks —
    the hardest streaming shape (state on BOTH sides, eviction driven by
    the watermark and the interval bound). Spark buffers each side keyed
    by user, emits on match, and GCs state older than watermark+1h.
    EXACT (upgraded from SMOKE): the replay is IN EVENT-TIME ORDER — 4
    contiguous ts-range slices, one file each, mtimes pinned so the file
    source triggers them in order — and under in-order arrival a row is
    never late (watermark ≤ prev-slice max − 10 min < its own ts) and no
    view's state is evicted before its last possible purchase (eviction
    needs wm > v_ts + 1h, but wm trails the purchase side), so the
    landed match set equals the batch interval join, which DuckDB
    replays directly. tests/test_streaming.py asserts the same equality
    against the Spark batch join."""
    import shutil

    ev = (
        table(spark, sf_dir, "events")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"), F.max("event_type").alias("event_type"))
    )
    workdir = tempfile.mkdtemp(prefix="strmss_")
    src = os.path.join(workdir, "src")
    os.makedirs(src)
    bounds = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"), F.max(F.unix_micros("ts")).alias("hi")
    ).first()
    lo, hi = bounds["lo"], bounds["hi"]
    sliced = ev.withColumn(
        "_sl",
        F.least(
            F.lit(3), F.expr(f"(unix_micros(ts) - {lo}L) * 4 DIV {hi - lo + 1}L")
        ),
    )
    for i in range(4):
        part_dir = os.path.join(workdir, f"slice_{i}")
        (
            sliced.where(F.col("_sl") == i)
            .drop("_sl")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(part_dir)
        )
        part = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"slice_{i}.parquet")
        shutil.copy(os.path.join(part_dir, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    def side(types):
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .filter(F.col("event_type").isin(types))
            .withWatermark("ts", "10 minutes")
        )

    views = side(["view"]).select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
    )
    purchases = side(["purchase"]).select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    name = "strm_ss_out"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(name)
        .groupBy(F.col("p_user").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_view_purchase_pairs"))
    )


@query(
    "stream_sliding_distinct_users", eager=True,
    category="streaming",
    oracle="""
    WITH e AS (
      SELECT time_bucket(INTERVAL '5 minutes', ts) AS tb, event_type, user_id
      FROM events
    ),
    w AS (
      SELECT tb AS window_start, event_type, user_id FROM e
      UNION ALL
      SELECT tb - INTERVAL '5 minutes' AS window_start, event_type, user_id FROM e
    )
    SELECT window_start, event_type,
           COUNT(DISTINCT user_id) AS n_users
    FROM w GROUP BY 1, 2
    """,
)
def stream_sliding_distinct_users(spark, sf_dir):
    """Sliding-window audience count: distinct users per event type in a
    10-minute window sliding every 5 — the streaming DAU-style panel next
    to stream_sliding_window's sum/count. Batch-equivalent of the
    streaming plan (window() + dropDuplicates state); the oracle expands
    each event into its two member windows explicitly. Spark plans
    count-distinct as a two-phase Expand + partial agg — the dedup
    happens map-side per (window, type, user) before the final shuffle,
    so the wide state never concentrates on one node at scale."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_users")
    )


@query(
    "stream_window_top_type", eager=True,
    category="streaming",
    oracle="""
    WITH c AS (
      SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
             event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT window_start, event_type, n,
             ROW_NUMBER() OVER (PARTITION BY window_start
                                ORDER BY n DESC, event_type ASC) AS rk
      FROM c
    )
    SELECT window_start, event_type AS top_type, n
    FROM r WHERE rk = 1
    """,
)
def stream_window_top_type(spark, sf_dir):
    """Per-window winner: the most frequent event type in each 5-minute
    tumbling window (ties -> lexicographically first type) — the 'what
    dominated this interval' panel, ClickHouse topK(1) per time bucket.
    Spelled as max_by over a struct whose ordering encodes the tie-break
    (count DESC via negation, then type ASC), so it stays ONE hash
    aggregation — no window-rank pass, no second shuffle; the oracle
    uses the equivalent row_number()=1 formulation."""
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy(
        F.window("ts", "5 minutes").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    # min_by over (−n, type) == 'highest count, then lowest type'
    pick = F.min_by(
        F.struct(F.col("event_type").alias("top_type"), F.col("n").alias("n")),
        F.struct((-F.col("n")).alias("neg"), F.col("event_type").alias("t")),
    )
    return (
        c.groupBy("w")
        .agg(pick.alias("p"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("p.top_type").alias("top_type"),
            F.col("p.n").alias("n"),
        )
    )


_STREAM_MV_ORACLE = """
SELECT user_id, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS sum_value
FROM events
GROUP BY user_id, event_type
"""


@query("stream_incremental_mv", eager=True, category="streaming", oracle=_STREAM_MV_ORACLE)
def stream_incremental_mv(spark, sf_dir):
    """The streaming twin of sink_summing_mv: a multi-batch file stream
    (maxFilesPerTrigger=1 over a 4-file copy of events, availableNow)
    maintains the per-(user, event_type) summing MV via foreachBatch —
    each micro-batch folds to mergeable partial state (count + exact
    BIGINT sum) and merges into the landed MV, with a batchId marker
    making replays idempotent (the IdempotentParquetSink discipline).
    EXACT, not SMOKE: the maintained view is deterministic because
    merge-of-integer-partials is order-free, so the oracle's full
    GROUP BY over raw events must hash-match whatever micro-batch
    boundaries the stream happened to take — the strongest form of the
    incremental-maintenance contract (ClickHouse MV + SummingMergeTree
    fed by the Buffer flush, tables.sql:61). At 100 TB each refresh
    reads one increment plus the compact MV; raw history is never
    rescanned."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("ys"),
    )
    workdir = tempfile.mkdtemp(prefix="strm_mv_")
    src = os.path.join(workdir, "src")
    ev.repartitionByRange(4, "event_id").write.mode("overwrite").parquet(src)
    run_mv_stream(spark, ev.schema, src, workdir)
    return read_mv(spark, os.path.join(workdir, "mv"))


def mv_upsert(workdir: str):
    """foreachBatch merge for the summing MV: batchId-marker idempotence,
    partial (count, exact BIGINT sum) state, atomic staged swap. Module-
    level so the restart/replay test drives the identical code path."""
    mv_dir = os.path.join(workdir, "mv")
    marks = os.path.join(workdir, "marks")
    os.makedirs(marks, exist_ok=True)

    def upsert(batch_df, batch_id):
        mark = os.path.join(marks, str(batch_id))
        if os.path.exists(mark):
            return
        part = batch_df.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("ys").alias("sum_scaled"),
        )
        s = batch_df.sparkSession
        if os.path.exists(mv_dir):
            part = (
                s.read.parquet(mv_dir)
                .unionByName(part)
                .groupBy("user_id", "event_type")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("sum_scaled").alias("sum_scaled"),
                )
            )
        staged = os.path.join(workdir, f"mv_stage_{batch_id}")
        # REBALANCE before the MV rewrite (guide §6): the merged MV is a
        # compact keys-sized table, but a 32-partition shuffle fans it
        # into up to 32 tiny files that the NEXT batch's read-back pays
        # for again — per-batch, so the cost multiplies by stream length.
        # AQE packs the write into advisory-sized files (one locally;
        # splits appropriately at scale). Same rows, same MV.
        part.hint("rebalance").write.mode("overwrite").parquet(staged)
        import shutil

        if os.path.exists(mv_dir):
            shutil.rmtree(mv_dir)
        os.rename(staged, mv_dir)
        open(mark, "w").close()

    return upsert


def run_mv_stream(spark, schema, src: str, workdir: str) -> None:
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(mv_upsert(workdir))
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_mv(spark, mv_dir: str):
    return spark.read.parquet(mv_dir).select(
        "user_id", "event_type", "n_events",
        (F.col("sum_scaled").cast("double") / 100.0).alias("sum_value"),
    )


@query(
    "stream_dedup_within_watermark", eager=True,
    category="streaming",
    oracle="""
    SELECT event_type, COUNT(*) AS n_unique FROM events GROUP BY event_type
    """,
)
def stream_dedup_within_watermark(spark, sf_dir):
    """Spark 4 ``dropDuplicatesWithinWatermark`` — bounded-state streaming
    dedup, the production answer to stream_dedup_first's unbounded state:
    a key's dedup state is dropped once the watermark passes it, so state
    size tracks the watermark window instead of the whole stream history
    (exactly what a forever-running ingest daemon needs — the reference's
    at-least-once retry loop, solarman.py:202-225, re-sends rows and
    ClickHouse never dedups them at all). Duplicates are injected
    IN-PLAN: every 10th event re-arrives 5 minutes later, the stream
    replays as 4 time-ranged files under a 30-minute watermark, and
    because every injected duplicate lands well inside the watermark
    delay the operator's contract GUARANTEES it is dropped — so the
    landed per-type counts hash-match the raw per-type counts and the
    check is EXACT, not SMOKE (the survivor row per key may be either
    copy by arrival order; the per-type aggregate is copy-invariant by
    construction)."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    dups = ev.filter(F.col("event_id") % 10 == 0).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 5 MINUTES")
    )
    full = ev.unionByName(dups)
    workdir = tempfile.mkdtemp(prefix="strm_ddww_")
    src = os.path.join(workdir, "src")
    # The file source orders batches by file MODIFICATION TIME — four
    # part-files from one write share an mtime and replay in arbitrary
    # order, which lets the watermark leap ahead and late-drop a whole
    # time slice (observed: a quarter of the stream dropped). Write the
    # four time-slices SEQUENTIALLY so mtimes (and therefore replay
    # order) follow event time, as a real tailing ingest would.
    sliced = full.withColumn(
        "_slice", F.ntile(4).over(W.orderBy("ts", "event_id"))
    )
    for i in range(1, 5):
        sliced.filter(F.col("_slice") == i).drop("_slice").coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, f"b{i}"))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "b*"))
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    name = "strm_ddww_out"
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )


@query(
    "stream_union_sources", eager=True,
    category="streaming",
    oracle="""
    SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
    """,
)
def stream_union_sources(spark, sf_dir):
    """Union of TWO independent streaming sources into one query — the
    multi-topic/multi-landing-zone shape every production pipeline hits
    (the reference's analogue: multiple inverters feeding one ClickHouse
    table, solarman.py:391-394): interaction events and transaction
    events arrive in separate directories, each its own file stream,
    unioned BEFORE a complete-mode global aggregation. Also covers the
    third output mode: stream_* queries elsewhere run append (with
    watermarks); complete mode re-emits full per-type totals each
    trigger from the aggregation state, needs no watermark, and its
    final state is file-arrival-order INVARIANT — global counts commute
    — which is what makes this EXACT against the plain batch GROUP BY
    oracle rather than SMOKE. Each source streams 2 files
    (maxFilesPerTrigger=1 ⇒ interleaved multi-batch progress across
    sources)."""
    ev = table(spark, sf_dir, "events")
    workdir = tempfile.mkdtemp(prefix="strm_union_")
    a_dir = os.path.join(workdir, "interactions")
    b_dir = os.path.join(workdir, "transactions")
    inter = ev.where(F.col("event_type").isin("click", "view"))
    trans = ev.where(~F.col("event_type").isin("click", "view"))
    inter.repartition(2).write.mode("overwrite").parquet(a_dir)
    trans.repartition(2).write.mode("overwrite").parquet(b_dir)

    sa = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(a_dir)
    sb = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(b_dir)
    agg = sa.unionByName(sb).groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    name = "strm_union_out"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@query(
    "stream_stream_left_outer_join", eager=True,
    category="streaming",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts, MAX(event_type) AS event_type
      FROM events GROUP BY user_id, ts
    ),
    v AS (SELECT user_id, ts FROM ev WHERE event_type = 'view'),
    p AS (SELECT user_id, ts FROM ev WHERE event_type = 'purchase'),
    j AS (
      SELECT p.user_id, p.ts AS p_ts, v.ts AS v_ts
      FROM p LEFT JOIN v ON v.user_id = p.user_id
        AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN v_ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unmatched
    FROM j GROUP BY user_id
    """,
)
def stream_stream_left_outer_join(spark, sf_dir):
    """LEFT OUTER stream-STREAM join: every purchase joined to the same
    user's views in the preceding hour, with purchases that saw NO view
    emitted as null-padded rows — the abandoned-attribution shape, and
    the hardest streaming output semantics Spark has (an unmatched left
    row may only emit once the VIEW-side watermark proves no matching
    view can still arrive, i.e. state eviction drives emission, not
    data arrival). EXACT via the in-event-time-order slice replay
    (_write_event_time_slices) plus a WATERMARK FLUSH: two sentinel
    slices dated +1 d/+2 d past the corpus (one row per type, user −1,
    filtered from the output) push BOTH sides' watermarks past every
    real purchase's match horizon, and the second sentinel batch gives
    the state store the extra trigger outer emission lags by — without
    it the tail purchases' null rows stay buffered when the query
    stops. Under in-order arrival nothing is ever late, so the landed
    output provably equals the batch left interval join, which the
    oracle replays relationally. tests/test_streaming.py asserts the
    same equality against the Spark batch join. At 100 TB: per-user
    keyed state bounded by the 1 h interval + 10 min delay on both
    sides, GC'd by watermark — identical plan, kafka source instead of
    files."""
    import datetime

    ev = (
        table(spark, sf_dir, "events")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"), F.max("event_type").alias("event_type"))
    )
    mx = ev.agg(F.max("ts").alias("m")).first()["m"]
    sent = spark.createDataFrame(
        [
            (-1, mx + datetime.timedelta(days=d), 0.0, t)
            for d in (1, 2)
            for t in ("view", "purchase")
        ],
        ev.schema,
    )
    workdir, src = _write_event_time_slices(
        ev.unionByName(sent), n_slices=6, prefix="strmlo_"
    )

    def side(types):
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .filter(F.col("event_type").isin(types))
            .withWatermark("ts", "10 minutes")
        )

    views = side(["view"]).select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
    )
    purchases = side(["purchase"]).select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    )
    name = "strm_sslo_out"
    # Stream-stream join state partition count is fixed at first run from
    # spark.sql.shuffle.partitions; a vanilla 200-partition session pays
    # ~6 batches x 200 state stores x 4 state ops of pure maintenance
    # (measured 105 s -> ~35 s at 32 partitions on identical data). Pin a
    # sane state layout for the query's lifetime, then restore.
    with pinned_shuffle(spark, 32):
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", os.path.join(workdir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.table(name)
        .where(F.col("p_user") != -1)
        .groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("v_ts").isNull(), 1).otherwise(0)).alias("n_unmatched"),
        )
    )
