"""Numeric execution-metrics checks via metrics.run_with_metrics — scale
properties asserted from the SQLMetrics Spark maintains, complementing
the plan-string tests in test_plans.py — and the per-block job/stage/task
profile (metrics.profile) that bench.py records per row."""

from __future__ import annotations

from pyspark.sql import functions as F

from solis_solarman_clickhouse_spark.metrics import _group_stats, profile, run_with_metrics
from solis_solarman_clickhouse_spark.queries.registry import REGISTRY
from solis_solarman_clickhouse_spark.session import scoped_conf
from solis_solarman_clickhouse_spark.tables import table

from .conftest import SF_DIR


def test_scan_metrics_report_rows_and_bytes(spark):
    m = run_with_metrics(REGISTRY["scan_pruned_projection"].fn(spark, SF_DIR))
    assert m["scan_rows"] > 0
    assert m["scan_bytes"] > 0


def test_aggregation_shuffles_less_than_it_scans(spark):
    """Partial aggregation must shrink data before the exchange: shuffle
    bytes for Q1 (4-group aggregate over lineitem) must be far below the
    scanned file bytes."""
    m = run_with_metrics(REGISTRY["agg_tpch_q1"].fn(spark, SF_DIR))
    assert m["shuffle_write_bytes"] > 0, "expected a partial/final exchange"
    assert m["shuffle_write_bytes"] < m["scan_bytes"], m


def test_broadcast_star_join_shuffle_bounded_by_fact(spark):
    """The 5-way star join must not shuffle the dimensions: total shuffle
    write stays within a small multiple of the fact-side row data."""
    m = run_with_metrics(REGISTRY["join_star_revenue"].fn(spark, SF_DIR))
    li_rows = table(spark, SF_DIR, "lineitem").count()
    assert m["scan_rows"] >= li_rows
    # agg output is |nations| rows; shuffle should be tiny
    assert m["shuffle_write_bytes"] < m["scan_bytes"], m


def test_no_spill_at_fixture_scale(spark):
    """Nothing in the headline path should spill at sf0.001 — a spill here
    means partition sizing is broken long before 100 TB."""
    for name in ["agg_tpch_q1", "window_ranking", "join_star_revenue"]:
        m = run_with_metrics(REGISTRY[name].fn(spark, SF_DIR))
        assert m["spill_bytes"] == 0, (name, m)


def test_sorted_layout_skips_row_groups(spark, tmp_path):
    """MergeTree ORDER BY (inverter, time) parity, measured: a landing
    table written sorted by inverter with small row groups answers a
    single-inverter filter by SKIPPING non-matching row groups — the
    scan emits far fewer rows than the table holds (parquet min/max
    stats prune at the reader, before any Filter operator)."""
    ev = table(spark, SF_DIR, "events")
    n_total = ev.count()
    path = str(tmp_path / "sorted_land")
    (
        ev.withColumn("inverter", F.concat(F.lit("inv"), (F.col("user_id") % 15)))
        .repartitionByRange(15, "inverter")
        .sortWithinPartitions("inverter", "ts")
        .write.mode("overwrite")
        .parquet(path)
    )
    df = spark.read.parquet(path).filter(F.col("inverter") == "inv3")
    m = run_with_metrics(df)
    n_match = df.count()
    assert 0 < n_match < n_total
    assert m["scan_rows"] < n_total, (
        f"scan emitted all {n_total} rows — reader-level pruning not happening"
    )
    # pruning is stats-granular (whole row groups — here one per
    # range-partitioned file), so the scan emits at most the matching
    # files' rows, far less than the table
    assert n_match <= m["scan_rows"] <= n_total // 5, (n_match, m)
    # control: with parquet filter pushdown disabled the scan must emit
    # every row and filtering happens in a post-scan Filter operator —
    # quantifying exactly what pushdown+stats save on the landing layout
    with scoped_conf(spark, {"spark.sql.parquet.filterPushdown": "false"}):
        mu = run_with_metrics(
            spark.read.parquet(path).filter(F.col("inverter") == "inv3")
        )
    assert mu["scan_rows"] == n_total, mu
    assert m["scan_rows"] < mu["scan_rows"]


def test_zorder_layout_prunes_on_both_columns(spark, tmp_path):
    """Z-order vs linear sort, measured at the parquet reader: the linear
    (user_id, value)-sorted layout prunes filters on user_id but scans
    everything for a value-only filter; the Z-ordered layout skips row
    groups for BOTH single-column filters."""
    from solis_solarman_clickhouse_spark.operators.shards import zorder_layout

    ev = table(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    n_total = ev.count()

    linear, zpath = str(tmp_path / "linear"), str(tmp_path / "zorder")
    (
        ev.repartitionByRange(16, "user_id")
        .sortWithinPartitions("user_id", "value")
        .write.mode("overwrite").parquet(linear)
    )
    zorder_layout(ev, zpath, cols=("user_id", "value"), n_files=16)

    lo_user = F.col("user_id") < 3  # fixture ids span 0..14
    lo_value = F.col("value") < 5.0  # ~p10 of the value distribution

    def scan_rows(path, cond):
        return run_with_metrics(spark.read.parquet(path).filter(cond))["scan_rows"]

    # both layouts prune the user_id filter
    assert scan_rows(linear, lo_user) < n_total
    assert scan_rows(zpath, lo_user) < n_total
    # only the Z-order layout prunes the value-only filter
    assert scan_rows(linear, lo_value) == n_total
    assert scan_rows(zpath, lo_value) < n_total
    # and the z layout is lossless
    assert spark.read.parquet(zpath).count() == n_total


def test_bloom_filter_layout_prunes_point_lookup(spark, tmp_path):
    """ClickHouse bloom_filter-skip-index parity, measured: an UNSORTED
    high-cardinality column gets no min/max pruning (every row group
    spans the domain), but the bloom-filter layout skips row groups on a
    point lookup; the bloom-less control scans every row."""
    from solis_solarman_clickhouse_spark.operators.shards import bloom_filter_layout

    # the sf0.001 fixture is a single row group — synthesize enough rows
    # for multiple groups, with xxhash64 ids so the column is UNSORTED
    # high-cardinality (the regime where min/max stats are useless)
    ev = spark.range(0, 200_000).select(
        (F.xxhash64("id") % 1_000_000).alias("event_id"),
        (F.col("id") % 100).alias("user_id"),
    )
    n_total = ev.count()
    pb, pn = str(tmp_path / "bloom"), str(tmp_path / "nobloom")
    bloom_filter_layout(
        ev, pb, bloom_cols=("event_id",), expected_ndv=1_000_000,
        row_group_bytes=256 * 1024, n_files=1,
    )
    ev.repartition(1).write.mode("overwrite").option(
        "parquet.block.size", 256 * 1024
    ).parquet(pn)
    # a mid-domain present value (NOT the max — the max is prunable by
    # min/max stats alone, which would let the control pass spuriously)
    target = int(ev.limit(1).collect()[0]["event_id"])
    db = spark.read.parquet(pb).filter(F.col("event_id") == target)
    dn = spark.read.parquet(pn).filter(F.col("event_id") == target)
    mb, mn = run_with_metrics(db), run_with_metrics(dn)
    assert db.count() == dn.count() >= 1
    # control scans everything (no sort → min/max can't prune)
    assert mn["scan_rows"] == n_total, mn
    # bloom layout skips most row groups
    assert mb["scan_rows"] < n_total // 4, (mb, n_total)


def test_observe_metrics_match_aggregates(spark):
    """Spark's observe()/Observation API — per-query named metrics
    collected DURING execution (one pass, no second scan): the
    data-quality counters an ingest pipeline attaches to every batch
    (row counts, null counts, value bounds) must equal the values a
    separate aggregation computes. This is the engine-native analogue
    of the reference's ad-hoc logging counters around the poll loop
    (solarman.py:318-333)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    obs = Observation("dq")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias("sum_qty"),
        F.count(F.when(F.col("l_discount") > 0.1, 1)).alias("over_discount"),
    )
    observed.write.mode("overwrite").format("noop").save()
    got = obs.get
    direct = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias("sum_qty"),
        F.count(F.when(F.col("l_discount") > 0.1, 1)).alias("over_discount"),
    ).collect()[0]
    assert got["n_rows"] == direct["n_rows"] > 0
    assert got["sum_qty"] == direct["sum_qty"]
    assert got["over_discount"] == direct["over_discount"]


def test_partial_agg_shuffle_stays_bounded_across_scale(spark):
    """The 100× scale-up argument, measured instead of asserted: growing
    the input 10× (sf0.001 → sf0.01) must grow Q1's SCANNED rows ~10×
    while its SHUFFLE rows stay FLAT — partial aggregation bounds the
    exchange at |groups| × partitions regardless of input size, which
    is precisely why the plan survives 100 TB. A refactor that drops
    map-side combine turns shuffle rows linear in input and fails
    here."""
    def q1(sf_dir):
        # the Q1 aggregation shape WITHOUT tables.spread() — the local
        # fixtures are single-file, so spread()'s (documented, no-op at
        # scale) repartition would dominate shuffle rows here and mask
        # the partial-aggregation property under test
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        return (
            li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
        )

    m_small = run_with_metrics(q1("/root/testdata/sf0.001"))
    m_big = run_with_metrics(q1("/root/testdata/sf0.01"))
    scan_ratio = m_big["scan_rows"] / max(m_small["scan_rows"], 1)
    assert 8 <= scan_ratio <= 12, (m_small["scan_rows"], m_big["scan_rows"])
    # shuffle rows = |groups| x map partitions on both sides: bounded,
    # not linear — allow slack for partition-count differences only
    assert m_big["shuffle_write_rows"] <= 4 * max(m_small["shuffle_write_rows"], 1), (
        m_small["shuffle_write_rows"],
        m_big["shuffle_write_rows"],
    )


def _grouped_noop(spark):
    (spark.range(0, 200_000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count()
     .write.mode("overwrite").format("noop").save())


def test_profile_counts_the_jobs_tasks_and_cpu_of_its_block(spark):
    with profile(spark, "test_profile_block") as p:
        _grouped_noop(spark)
    assert p["jobs"] >= 1 and p["tasks"] >= 4 and p["task_cpu_s"] > 0, p
    assert p["stages"] >= 2, p  # the partial aggregate, then the final one
    assert 1 <= len(p["top_stages"]) <= 6
    assert set(p["top_stages"][0]) == {"name", "ms", "tasks"}


def test_profile_does_not_count_jobs_after_its_block(spark):
    with profile(spark, "test_profile_closed") as p:
        _grouped_noop(spark)
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    _grouped_noop(spark)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    again = _group_stats(spark.sparkContext, "test_profile_closed")
    assert again["jobs"] == p["jobs"] and again["tasks"] == p["tasks"], (p, again)


def test_profile_of_identical_blocks_reports_the_same_jobs(spark):
    reports = []
    for i in range(2):
        with profile(spark, f"test_profile_twin_{i}") as p:
            _grouped_noop(spark)
        reports.append(p)
    assert reports[0]["jobs"] == reports[1]["jobs"] >= 1, reports
