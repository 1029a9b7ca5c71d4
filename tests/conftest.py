"""Shared fixtures: one SparkSession per test session, a DuckDB catalog
over the fixture tables, and the differential-compare helper mirroring the
driver's check. The catalog, the oracle call and the comparator come from
``oracle_compare``, shared with ``tools/sweep.py``; that module's docstring
says why both sides are read through pandas."""

from __future__ import annotations

import os

import pytest

from solis_solarman_clickhouse_spark.oracle_compare import catalog, run_oracle, verdict
from solis_solarman_clickhouse_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_collection_modifyitems(config, items):
    """ORACLE_SHARD=i/N (set by tools/partest.py) splits the oracle-sweep
    parametrizations across N concurrent pytest processes, one JVM each —
    the suite's wall time is ~85 % tests/test_oracle.py and pytest-xdist
    is not shipped in this container. Assignment is a stable CRC32 of the
    test id, so every parametrization runs in exactly one shard and the
    union over shards is the full suite. Non-oracle tests all stay in
    shard 0. No-op when ORACLE_SHARD is unset."""
    shard_spec = os.environ.get("ORACLE_SHARD")
    if not shard_spec:
        return
    import zlib

    idx, n = (int(x) for x in shard_spec.split("/"))
    keep, skip = [], []
    for item in items:
        fname = str(item.fspath)
        if "test_oracle.py" in fname:
            # per-parametrization split: these are independent and
            # dominate wall time
            key = item.nodeid.encode()
        else:
            # whole-file granularity: module-scoped fixtures stay
            # within one process
            key = fname.encode()
        (keep if zlib.crc32(key) % n == idx else skip).append(item)
    items[:] = keep
    config.hook.pytest_deselected(items=skip)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def ducks():
    con = catalog(SF_DIR)
    yield con
    con.close()


def compare(spark_df, ducks, oracle_sql: str, *, name: str = "") -> None:
    """Assert the Spark result equals the DuckDB oracle result, both read
    through pandas like the driver does."""
    bad = verdict(spark_df.toPandas(), run_oracle(ducks, oracle_sql))
    assert bad is None, f"{name}: {bad}"
