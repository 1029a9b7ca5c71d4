"""Ingest-pipeline unit tests — one per §2-A semantic from SURVEY.md §1.3:
32-bit register combine, unit scaling, derived watts, zero-DC drop policy,
config skip-on-invalid with reference defaults, idempotent sink replay.
"""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from solis_solarman_clickhouse_spark.ingest.config import load_targets
from solis_solarman_clickhouse_spark.ingest.decode import (
    decode_registers,
    decode_registers_pandas,
)
from solis_solarman_clickhouse_spark.ingest.derive import derive_metrics
from solis_solarman_clickhouse_spark.ingest.fixture import generate_raw_registers
from solis_solarman_clickhouse_spark.ingest.registers import FACT_COLUMNS
from solis_solarman_clickhouse_spark.ingest.sink import IdempotentParquetSink


@pytest.fixture(scope="module")
def raw(spark):
    return generate_raw_registers(spark, inverters=2, days=1).cache()


def test_u32_combine_and_scale(spark):
    """(hi << 16) | lo big-endian combine (solarman.py:278 etc.) and 0.1
    scaling (solarman.py:255) on a hand-built row."""
    row = {"inverter": "X", "time": "2024-01-01 00:00:00"}
    # all registers zero except the ones under test
    from solis_solarman_clickhouse_spark.ingest.registers import raw_register_columns

    for c in raw_register_columns():
        row[c] = 0
    row["reg_3021"] = 3015  # dc_1_voltage raw → 301.5 V (solarman.py:255)
    row["reg_3006"] = 2  # dc_actual_watts hi (solarman.py:278, quantity=2)
    row["reg_3007"] = 5  # dc_actual_watts lo → 2*65536+5
    df = spark.createDataFrame([row]).withColumn("time", F.col("time").cast("timestamp"))
    out = decode_registers(df).collect()[0]
    assert out["dc_actual_watts"] == 2 * 65536 + 5
    assert abs(out["dc_1_voltage"] - 301.5) < 1e-4


def test_decode_jvm_equals_pandas(spark, raw):
    """The codegen decode and the mapInPandas decode are the same function."""
    a = decode_registers(raw)
    b = decode_registers_pandas(raw)
    diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    assert diff == 0


def test_derived_watts_and_efficiency(spark, raw):
    fact = derive_metrics(decode_registers(raw), zero_dc="drop")
    bad = fact.filter(
        (F.col("dc_1_watts") != F.round(F.col("dc_1_voltage") * F.col("dc_1_amps")))
        | (
            F.col("dc_calculated_watts")
            != F.col("dc_1_watts") + F.col("dc_2_watts") + F.col("dc_3_watts")
        )
        | (F.col("inverter_efficiency_percent") > 100.0)
    ).count()
    assert bad == 0


def test_zero_dc_drop_vs_null_policy(spark, raw):
    """Reference drops the whole sample on zero DC (solarman.py:285,332);
    the 'null' policy keeps the row with a null efficiency."""
    decoded = decode_registers(raw)
    n_total = decoded.count()
    n_zero = decoded.filter(F.col("dc_actual_watts") == 0).count()
    dropped = derive_metrics(decoded, zero_dc="drop")
    nulled = derive_metrics(decoded, zero_dc="null")
    assert n_zero > 0  # night rows exist in the fixture
    assert dropped.count() == n_total - n_zero
    assert nulled.count() == n_total
    assert (
        nulled.filter(F.col("inverter_efficiency_percent").isNull()).count() == n_zero
    )
    assert list(dropped.columns) == list(FACT_COLUMNS)


def test_config_skip_on_invalid(spark):
    """FIXTURES.md table 12: 3 valid-complete, 1 valid-with-defaults,
    1 non-numeric serial, 1 missing serial → 4 valid, 2 rejected, with the
    reference's code defaults (port 161, mb_slave_id 1: solarman.py:82,99)."""
    targets = [
        {"name": "a", "ip": "10.0.0.1", "port": 8899, "serial_number": "111",
         "mb_slave_id": 2, "interval": 10, "timeout": 5, "error_correction": True},
        {"name": "b", "ip": "10.0.0.2", "port": 8899, "serial_number": "222",
         "mb_slave_id": 1, "interval": 30, "timeout": 15, "error_correction": False},
        {"name": "c", "ip": "10.0.0.3", "port": 8899, "serial_number": "333",
         "mb_slave_id": 1, "interval": 30, "timeout": 15, "error_correction": False},
        {"name": "d", "ip": "10.0.0.4", "serial_number": "444"},
        {"name": "bad1", "ip": "10.0.0.5", "serial_number": "not-a-number"},
        {"name": "bad2", "ip": "10.0.0.6"},
    ]
    path = os.path.join(tempfile.mkdtemp(prefix="targets_"), "targets.json")
    with open(path, "w") as f:
        for t in targets:
            f.write(json.dumps(t) + "\n")
    valid, rejected = load_targets(spark, path)
    v = {r["name"]: r.asDict() for r in valid.collect()}
    rej = {r["name"]: r["reject_reason"] for r in rejected.collect()}
    assert set(v) == {"a", "b", "c", "d"}
    assert v["d"]["port"] == 161  # code default, not README's 8999
    assert v["d"]["mb_slave_id"] == 1
    assert v["d"]["interval"] == 30 and v["d"]["timeout"] == 15
    assert v["d"]["error_correction"] is False
    assert rej == {"bad1": "non-numeric serial_number", "bad2": "missing serial_number"}


def test_config_all_invalid_is_fatal(spark):
    path = os.path.join(tempfile.mkdtemp(prefix="targets_"), "targets.json")
    with open(path, "w") as f:
        f.write(json.dumps({"name": "x", "ip": "1.2.3.4"}) + "\n")
    with pytest.raises(ValueError):
        load_targets(spark, path)


def test_sink_idempotent_replay(spark, raw):
    """Q-SINK-2: same batchId written twice == written once (exact row
    multiset), upgrading the reference's at-least-once retry
    (solarman.py:202-225) to effectively-once."""
    fact = derive_metrics(decode_registers(raw))
    base = os.path.join(tempfile.mkdtemp(prefix="sink_"), "fact")
    sink = IdempotentParquetSink(base)
    sink.write_batch(fact, batch_id=0)
    once = sink.read_table(spark).collect()
    sink.write_batch(fact, batch_id=0)
    twice = sink.read_table(spark).collect()
    assert sorted(map(str, once)) == sorted(map(str, twice))
    assert len(once) == fact.count()


def test_clickhouse_sink_sql_surface():
    """Server-free checks of the ClickHouse sink's DDL: it mirrors tables.sql
    (monthly partitioning, (inverter,time) ordering, Float32/UInt32 split)
    over the reference's 26 fact columns."""
    from solis_solarman_clickhouse_spark.ingest.http_sink import create_table_ddl
    from solis_solarman_clickhouse_spark.ingest.registers import FACT_COLUMNS

    ddl = create_table_ddl()
    assert "PARTITION BY toYYYYMM(time)" in ddl
    assert "ORDER BY (inverter, time)" in ddl
    assert "`inverter` LowCardinality(String)" in ddl
    assert "`kwh_total` UInt32" in ddl
    assert "`ac_frequency` Float32" in ddl
    assert len(FACT_COLUMNS) == 26


def test_graceful_stop_drains_and_preserves_sink(spark, raw):
    """A14 lifecycle parity (solarman.py:408-421): a stop request mid-run
    stops every registered query, wait() returns, and the checkpointed
    idempotent sink holds a consistent prefix that a restart completes —
    stop-at-any-point loses nothing."""
    import threading

    from solis_solarman_clickhouse_spark.ingest.pipeline import (
        GracefulStop,
        run_stream,
        transform,
    )

    base = tempfile.mkdtemp(prefix="gstop_")
    raw_path = os.path.join(base, "raw")
    raw.write.parquet(raw_path)
    sink = IdempotentParquetSink(os.path.join(base, "fact"))
    ckpt = os.path.join(base, "ckpt")

    stopper = GracefulStop()  # no install(): signal handlers need the main
    q = run_stream(spark, raw_path, sink, ckpt)  # thread; request_stop() is
    stopper.register(q)  # the handler's body and is thread-safe
    threading.Timer(0.5, stopper.request_stop).start()
    stopper.wait(poll_s=0.1)
    assert not q.isActive
    assert stopper.stopping

    # restart from the same checkpoint: whatever the stop cut off completes
    q2 = run_stream(spark, raw_path, sink, ckpt)
    q2.awaitTermination()
    expected = transform(spark.read.parquet(raw_path)).count()
    assert sink.read_table(spark).count() == expected


def test_register_map_matches_reference_fetch_cycle():
    """Pin REGISTER_MAP's (addr, quantity, scale) tuples to the reference's
    actual fetch cycle (solarman.py:255-307) so address drift is caught.
    The expected sequence below is transcribed read-by-read from the
    reference: DC strings 3021-3026 (q1, 0.1), the u32 power registers
    3006/3004, then the gauges/counters in data-row assembly order."""
    from solis_solarman_clickhouse_spark.ingest.registers import REGISTER_MAP

    expected = [
        # name, addr, quantity, scale   (solarman.py line)
        ("dc_1_voltage", 3021, 1, 0.1),  # :255
        ("dc_1_amps", 3022, 1, 0.1),  # :257
        ("dc_2_voltage", 3023, 1, 0.1),  # :262
        ("dc_2_amps", 3024, 1, 0.1),  # :264
        ("dc_3_voltage", 3025, 1, 0.1),  # :269
        ("dc_3_amps", 3026, 1, 0.1),  # :271
        ("dc_actual_watts", 3006, 2, 1.0),  # :278
        ("ac_actual_watts", 3004, 2, 1.0),  # :280
        ("inverter_temperature_celsius", 3041, 1, 0.1),  # :284
        ("dc_busbar_voltage", 3031, 1, 0.1),  # :299
        ("ground_voltage", 3030, 1, 0.1),  # :300
        ("ac_apparent_watts", 3057, 2, 1.0),  # :301
        ("ac_voltage", 3035, 1, 0.1),  # :303
        ("ac_amps", 3038, 1, 0.1),  # :304
        ("ac_frequency", 3042, 1, 0.01),  # :305
        ("kwh_day", 3014, 1, 0.1),  # :306
        ("kwh_month", 3010, 2, 1.0),  # :307
        ("kwh_annual", 3016, 2, 1.0),  # :308
        ("kwh_total", 3008, 2, 1.0),  # :309
    ]
    actual = [(s.name, s.addr, s.quantity, s.scale) for s in REGISTER_MAP]
    assert actual == expected


def test_torn_checkpoint_repair_semantics(tmp_path):
    """_repair_torn_checkpoint must clear ONLY the never-committed state
    (offsets present, commits empty — the graceful-stop race window that
    makes Spark refuse to resume) and leave any checkpoint with at least
    one commit untouched (normal offsets-ahead-of-commits recovery owns
    those)."""
    import os

    from solis_solarman_clickhouse_spark.ingest.pipeline import (
        _repair_torn_checkpoint,
    )

    # torn: offsets/0 written, nothing committed -> offsets dir removed
    torn = tmp_path / "torn"
    (torn / "offsets").mkdir(parents=True)
    (torn / "offsets" / "0").write_text("v1\n{}")
    _repair_torn_checkpoint(str(torn))
    assert not (torn / "offsets").exists()

    # healthy: batch 0 committed, batch 1 offsets in flight -> untouched
    healthy = tmp_path / "healthy"
    (healthy / "offsets").mkdir(parents=True)
    (healthy / "commits").mkdir()
    (healthy / "offsets" / "0").write_text("v1\n{}")
    (healthy / "offsets" / "1").write_text("v1\n{}")
    (healthy / "commits" / "0").write_text("v1\n{}")
    _repair_torn_checkpoint(str(healthy))
    assert sorted(os.listdir(healthy / "offsets")) == ["0", "1"]

    # fresh: no checkpoint at all -> no-op, no error
    _repair_torn_checkpoint(str(tmp_path / "missing"))

    # transient non-ENOENT error listing commits/ (here: commits is a
    # FILE, so listdir raises NotADirectoryError) on a checkpoint that
    # HAS offsets must NOT be read as "no commits ever" — deleting
    # offsets/ then would orphan commits/N and corrupt the checkpoint.
    blipped = tmp_path / "blipped"
    (blipped / "offsets").mkdir(parents=True)
    (blipped / "offsets" / "0").write_text("v1\n{}")
    (blipped / "commits").write_text("not a directory")
    _repair_torn_checkpoint(str(blipped))
    assert sorted(os.listdir(blipped / "offsets")) == ["0"]


def test_advisory_mb_env_parse_warns_on_junk():
    """SPARK_GRAFT_ADVISORY_MB falls back to the default on junk input,
    but a SET-and-ignored knob must emit a warning (an operator's typo'd
    tuning intent should not vanish silently)."""
    import warnings

    from solis_solarman_clickhouse_spark.session import (
        _ADVISORY_MB_DEFAULT,
        _parse_advisory_mb,
    )

    with warnings.catch_warnings():
        warnings.simplefilter("error")  # unset / valid values never warn
        assert _parse_advisory_mb(None) == _ADVISORY_MB_DEFAULT
        assert _parse_advisory_mb("128") == 128
    for junk in ("128MB", "0", "-4", "", "  "):
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            assert _parse_advisory_mb(junk) == _ADVISORY_MB_DEFAULT
        assert any("SPARK_GRAFT_ADVISORY_MB" in str(w.message) for w in caught), junk
