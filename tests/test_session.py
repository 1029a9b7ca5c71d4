"""Session-conf scoping: a library call that needs a conf sets it with
``session.scoped_conf`` and leaves the caller's session as it found it."""

from __future__ import annotations

import pytest

from solis_solarman_clickhouse_spark.queries import REGISTRY
from solis_solarman_clickhouse_spark.session import pinned_shuffle, scoped_conf

from .conftest import SF_DIR

UNSET = "spark.sql.sources.partitionOverwriteMode"
SET = "spark.sql.shuffle.partitions"


def test_scoped_conf_unsets_a_new_key_and_restores_on_exception(spark):
    spark.conf.unset(UNSET)
    before = spark.conf.get(SET)
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {UNSET: "dynamic", SET: "3"}):
            assert spark.conf.get(UNSET) == "dynamic"
            assert spark.conf.get(SET) == "3"
            raise RuntimeError("inside the block")
    assert spark.conf.get(UNSET, None) is None
    assert spark.conf.get(SET) == before


def test_pinned_shuffle_restores_partitions_and_aqe(spark):
    before = {k: spark.conf.get(k) for k in (SET, "spark.sql.adaptive.enabled")}
    with pinned_shuffle(spark, 5, aqe=False):
        assert spark.conf.get(SET) == "5"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert {k: spark.conf.get(k) for k in before} == before


def test_dynamic_partition_overwrite_query_leaves_session_conf_unset(spark):
    spark.conf.unset(UNSET)
    REGISTRY["sink_dynamic_partition_overwrite"].fn(spark, SF_DIR).collect()
    assert spark.conf.get(UNSET, None) is None
