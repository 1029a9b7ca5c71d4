"""ClickHouse HTTP sink mirroring the reference's insert-with-retry loop.

The reference (solarman.py:192-225) pulls rows off an asyncio queue and
INSERTs them over ClickHouse's HTTP interface, retrying each insert
forever with a fixed 2 s backoff — at-least-once delivery (a timeout after
a server-side commit replays the row). This module keeps those semantics
with a Spark-native shape:

- ``foreachBatch`` → ``foreachPartition`` → ONE multi-row
  ``INSERT ... FORMAT JSONEachRow`` POST per partition. The micro-batch is
  the batch; no per-row round trips (the reference's single-row INSERTs are
  its main throughput ceiling, BASELINE.md).
- stdlib ``urllib`` only, so the partition function ships to any executor
  with zero extra jars/packages.
- Retry loop per partition POST: infinite by default exactly like the
  reference (``max_retries=None``), bounded in tests. A replayed partition
  duplicates rows — same at-least-once contract as the reference; use
  ReplacingMergeTree or an idempotency key downstream for exactly-once.

Env contract mirrors solarman.py:180-190: CLICKHOUSE_URL / CLICKHOUSE_USER
/ CLICKHOUSE_PASS / CLICKHOUSE_DB required, CLICKHOUSE_TABLE defaulting to
``solis_solarman``. :func:`create_table_ddl` generates the MergeTree table
the sink inserts into.
"""

from __future__ import annotations

import base64
import json
import os
import time
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Callable, Iterable
from dataclasses import dataclass

from pyspark.sql import DataFrame

from .registers import FACT_COLUMNS

#: Spark type → ClickHouse type for the fact table, mirroring
#: tables.sql:5-32 (Float32 gauges, UInt32 counters, DateTime, and a
#: LowCardinality dictionary-encoded key).
_CH_TYPES = {
    "inverter": "LowCardinality(String)",
    "time": "DateTime",
}
_FLOAT32_COLS = {
    "inverter_temperature_celsius", "inverter_efficiency_percent",
    "dc_1_voltage", "dc_1_amps", "dc_2_voltage", "dc_2_amps",
    "dc_3_voltage", "dc_3_amps", "dc_busbar_voltage", "ground_voltage",
    "ac_voltage", "ac_amps", "ac_frequency", "kwh_day",
}


def clickhouse_type(col: str) -> str:
    if col in _CH_TYPES:
        return _CH_TYPES[col]
    return "Float32" if col in _FLOAT32_COLS else "UInt32"


def create_table_ddl(database: str = "homelab", table: str = "solis_solarman") -> str:
    """MergeTree DDL equivalent to tables.sql:5-32: monthly partitions,
    (inverter, time) ordering/primary key."""
    cols = ",\n    ".join(f"`{c}` {clickhouse_type(c)}" for c in FACT_COLUMNS)
    return (
        f"CREATE TABLE IF NOT EXISTS {database}.{table} (\n    {cols}\n)\n"
        "ENGINE = MergeTree\n"
        "PARTITION BY toYYYYMM(time)\n"
        "ORDER BY (inverter, time)\n"
        "PRIMARY KEY (inverter, time)"
    )


@dataclass(frozen=True)
class HttpSinkSettings:
    """Picklable connection settings — shipped inside the foreachPartition
    closure to executors."""

    url: str  # e.g. "http://localhost:8123"
    user: str = "default"
    password: str = ""
    database: str = "homelab"
    table: str = "solis_solarman"
    max_retries: int | None = None  # None = retry forever (reference behavior)
    backoff_s: float = 2.0  # solarman.py:224 asyncio.sleep(2)
    timeout_s: float = 30.0


class MissingSettingError(KeyError):
    """Raised for absent required CLICKHOUSE_* env vars (the reference
    logs and exit(1)s, solarman.py:186-189; a library raises)."""


def settings_from_env(env: dict[str, str] | None = None) -> HttpSinkSettings:
    e = env if env is not None else dict(os.environ)
    try:
        return HttpSinkSettings(
            url=e["CLICKHOUSE_URL"],
            user=e["CLICKHOUSE_USER"],
            password=e["CLICKHOUSE_PASS"],
            database=e["CLICKHOUSE_DB"],
            table=e.get("CLICKHOUSE_TABLE", "solis_solarman"),
        )
    except KeyError as exc:
        raise MissingSettingError(
            f"Missing required environment variable {exc.args[0]!r}"
        ) from exc


def post_insert(settings: HttpSinkSettings, body: bytes) -> None:
    """One INSERT ... FORMAT JSONEachRow POST. Raises on any non-2xx."""
    query = f"INSERT INTO {settings.database}.{settings.table} FORMAT JSONEachRow"
    url = settings.url.rstrip("/") + "/?" + urllib.parse.urlencode({"query": query})
    auth = base64.b64encode(f"{settings.user}:{settings.password}".encode()).decode()
    req = urllib.request.Request(
        url,
        data=body,
        method="POST",
        headers={
            "Content-Type": "application/x-ndjson",
            "Authorization": f"Basic {auth}",
        },
    )
    with urllib.request.urlopen(req, timeout=settings.timeout_s) as resp:
        resp.read()


def insert_rows_with_retry(
    rows: Iterable[dict],
    settings: HttpSinkSettings,
    *,
    post: Callable[[HttpSinkSettings, bytes], None] = post_insert,
    sleep: Callable[[float], None] = time.sleep,
) -> int:
    """POST one partition's rows as a single JSONEachRow body, retrying the
    WHOLE body until success (at-least-once, like solarman.py:202-225's
    keep-trying-until-the-insert-succeeds loop). Returns the number of
    attempts made; 0 means the partition was empty and nothing was sent."""
    body = "\n".join(json.dumps(r, default=str) for r in rows).encode()
    if not body:
        return 0
    attempt = 0
    while True:
        attempt += 1
        try:
            post(settings, body)
            return attempt
        except Exception:
            if settings.max_retries is not None and attempt > settings.max_retries:
                raise
            sleep(settings.backoff_s)


def write_batch_http(df: DataFrame, batch_id: int, *, settings: HttpSinkSettings) -> None:
    """foreachBatch target: project to the reference's 26-column INSERT
    order (solarman.py:209-215) and POST per partition on the executors —
    the driver never materializes the batch."""
    out = df.select(*FACT_COLUMNS)

    def handle_partition(rows) -> None:
        insert_rows_with_retry((r.asDict() for r in rows), settings)

    out.foreachPartition(handle_partition)
