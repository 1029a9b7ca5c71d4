"""Q-SINK: write paths (SURVEY.md §2-C Q-SINK-1/2).

The reference's sink is at-least-once with possible duplicates
(solarman.py:202-225); Q-SINK-2 demonstrates the batchId-idempotent
upgrade: replaying the same batch twice lands the identical table.
Q-SINK-1 is EXACT (lossless round-trip vs a direct-aggregation oracle);
Q-SINK-2 stays SMOKE (generated input has no parquet oracle) with full
assertions in tests/test_ingest.py.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from ..caching import tracked_checkpoint
from ..session import scoped_conf
from ..tables import table
from .registry import query


@query(
    "sink_parquet_roundtrip", eager=True,
    category="sink",
    oracle="""
    SELECT strftime(o_orderdate, '%Y%m') AS ym, o_orderstatus,
           COUNT(*) AS n
    FROM orders GROUP BY 1, 2
    """,
)
def sink_parquet_roundtrip(spark, sf_dir):
    """Q-SINK-1: write an aggregate result as partitioned parquet (sorted
    within partitions, mirroring tables.sql:32 ordering), re-read it.
    EXACT (upgraded from SMOKE): the round-trip must be lossless, so the
    re-read table hash-matches the oracle's direct aggregation — the
    partition column is cast back to string because partition-directory
    values re-infer as ints on read."""
    out = os.path.join(tempfile.mkdtemp(prefix="sink1_"), "agg")
    res = (
        table(spark, sf_dir, "orders")
        .withColumn("ym", F.date_format("o_orderdate", "yyyyMM"))
        .groupBy("ym", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    res.repartition("ym").sortWithinPartitions("o_orderstatus").write.mode(
        "overwrite"
    ).partitionBy("ym").parquet(out)
    return spark.read.parquet(out).select(
        F.col("ym").cast("string").alias("ym"), "o_orderstatus", "n"
    )


@query(
    "sink_idempotent_upsert", eager=True,
    category="sink",
    oracle="""
    SELECT strftime(ts, '%Y%m') AS ym, COUNT(*) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1
    """,
)
def sink_idempotent_upsert(spark, sf_dir):
    """Q-SINK-2: batchId-idempotent sink — the same micro-batch written
    twice (simulating Spark's at-least-once batch replay) produces the
    identical landed table, upgrading the reference's at-least-once
    single-row INSERT retry (solarman.py:202-225) to effectively-once.
    EXACT (upgraded from SMOKE): the batch is the events table, so the
    landed-table aggregate must hash-match the oracle's DIRECT source
    aggregation — a duplicated replay would double every count and sum,
    a lost partition would shrink them; the fixture-register variant of
    this check lives in tests/test_ingest.py."""
    from ..ingest.sink import IdempotentParquetSink

    base = os.path.join(tempfile.mkdtemp(prefix="sink2_"), "fact")
    sink = IdempotentParquetSink(base)
    batch = table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("inverter"),
        F.col("ts").alias("time"),
        "value",
    )
    sink.write_batch(batch, batch_id=0)
    sink.write_batch(batch, batch_id=0)  # replay — must be a no-op net effect
    landed = sink.read_table(spark)
    return landed.groupBy(
        F.date_format("time", "yyyyMM").alias("ym")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
    )


@query(
    "sink_formats_roundtrip", eager=True,
    category="sink",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def sink_formats_roundtrip(spark, sf_dir):
    """Source/sink format breadth: the same aggregate written to and
    re-read from CSV (with header + explicit schema) and JSON-lines must
    agree with the direct parquet-scan result — the query returns the
    CSV-path result and asserts CSV == JSON in-plan via an inner join
    (a row-count-destroying mismatch would break the oracle match).
    Text formats are for interchange at the edges; columnar parquet
    remains the landing store (no schema/stats in CSV/JSON at 100 TB)."""
    base = tempfile.mkdtemp(prefix="sink_fmt_")
    agg = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double").alias("sum_price"),
        )
    )
    csv_path, json_path = os.path.join(base, "csv"), os.path.join(base, "json")
    agg.write.mode("overwrite").option("header", True).csv(csv_path)
    agg.write.mode("overwrite").json(json_path)
    c = (
        spark.read.option("header", True)
        .schema("o_orderstatus string, n bigint, sum_price double")
        .csv(csv_path)
    )
    j = spark.read.schema("o_orderstatus string, n bigint, sum_price double").json(
        json_path
    )
    return c.join(j, ["o_orderstatus", "n", "sum_price"], "inner").select(
        "o_orderstatus", "n", "sum_price"
    )


@query(
    "sink_orc_roundtrip", eager=True,
    category="sink",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def sink_orc_roundtrip(spark, sf_dir):
    """ORC source/sink: the second columnar format Spark ships natively
    (vectorized reader, predicate pushdown, zlib/zstd) — write the
    aggregate as ORC, re-read, hash-match against the parquet-scan
    oracle. Exercises the full ORC write+read path including schema
    preservation for BIGINT/DOUBLE."""
    base = tempfile.mkdtemp(prefix="sink_orc_")
    agg = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double").alias("sum_price"),
        )
    )
    path = os.path.join(base, "orc")
    agg.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@query(
    "sql_ddl_roundtrip", eager=True,
    category="sink",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
    FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY o_orderstatus
    """,
)
def sql_ddl_roundtrip(spark, sf_dir):
    """SQL DDL/DML front end: CREATE TABLE ... USING PARQUET at an
    explicit location, INSERT INTO ... SELECT from the fixture view, then
    aggregate the managed table — the catalog path (resolution through
    the session catalog, InsertIntoHadoopFsRelation write) rather than
    the DataFrameWriter path every other sink query uses. Dropped and
    recreated per run; hash-matched against the direct parquet-scan
    oracle."""
    import uuid

    base = tempfile.mkdtemp(prefix="sql_ddl_")
    tbl = f"ddl_rt_{uuid.uuid4().hex[:8]}"
    table(spark, sf_dir, "orders").createOrReplaceTempView("_ddl_src_orders")
    spark.sql(
        f"""CREATE TABLE {tbl} (o_orderstatus STRING, o_totalprice DOUBLE,
                                o_orderdate TIMESTAMP)
            USING PARQUET LOCATION '{base}/t'"""
    )
    try:
        spark.sql(
            f"""INSERT INTO {tbl}
                SELECT o_orderstatus, o_totalprice, o_orderdate
                FROM _ddl_src_orders
                WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'"""
        )
        return spark.sql(
            f"""SELECT o_orderstatus, COUNT(*) AS n,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                         AS sum_price
                FROM {tbl} GROUP BY o_orderstatus"""
        ).transform(tracked_checkpoint)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


_TAR_ORACLE = """
SELECT doc_id, LENGTH(text) AS n_chars FROM documents
"""


@query("sink_tar_shards", eager=True, category="sink", oracle=_TAR_ORACLE)
def sink_tar_shards(spark, sf_dir):
    """Training-data shard export round-trip: docs → deterministic-hash
    shard routing → per-shard tar written on executors (stdlib tarfile,
    WebDataset-style {doc_id}.txt members, atomic rename) → distributed
    untar re-read. The oracle checks the round-trip is lossless: every
    (doc_id, n_chars) survives. The export itself is the point — tar
    shards are the standard LLM data-loader input format."""
    from ..operators.shards import read_tar_shards, write_tar_shards

    docs = table(spark, sf_dir, "documents")
    out = os.path.join(tempfile.mkdtemp(prefix="tar_shards_"), "shards")
    write_tar_shards(docs, out, n_shards=8)
    back = read_tar_shards(spark, out)
    return back.select("doc_id", F.length("text").alias("n_chars"))


_COMPACT_ORACLE = """
SELECT doc_id, n_chars FROM documents
"""


@query("sink_compact_small_files", eager=True, category="sink", oracle=_COMPACT_ORACLE)
def sink_compact_small_files(spark, sf_dir):
    """Small-file compaction round-trip: fragment documents into one file
    per ~40 rows (simulating per-trigger streaming landings), compact to
    target-sized sorted files, re-read. Oracle asserts losslessness; the
    file-count collapse and sorted layout are asserted in
    tests/test_operators.py. The micro-batch analogue of MergeTree's
    background merges (tables.sql:32)."""
    import tempfile

    from ..operators.shards import compact_table

    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars", "text")
    base = tempfile.mkdtemp(prefix="compact_")
    frag, out = os.path.join(base, "frag"), os.path.join(base, "compacted")
    docs.repartition(64).write.mode("overwrite").parquet(frag)  # the small-file mess
    compact_table(
        spark.read.parquet(frag), out,
        target_rows_per_file=100_000, sort_cols=("doc_id",),
    )
    return spark.read.parquet(out).select("doc_id", F.length("text").alias("n_chars"))


@query("sink_zorder_layout", eager=True, category="sink", oracle="""
SELECT event_id, user_id FROM events
""")
def sink_zorder_layout(spark, sf_dir):
    """Z-order (Morton-curve) layout round-trip: events rewritten along the
    interleaved (user_id, value) curve, re-read losslessly. The layout's
    point — parquet min/max pruning on EITHER column, where a linear sort
    prunes only its leading column — is measured in
    tests/test_metrics.py::test_zorder_layout_prunes_on_both_columns."""
    import tempfile

    from ..operators.shards import zorder_layout

    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    out = os.path.join(tempfile.mkdtemp(prefix="zorder_"), "z")
    zorder_layout(ev, out, cols=("user_id", "value"), n_files=16)
    return spark.read.parquet(out).select("event_id", "user_id")


@query("sink_bloom_layout", eager=True, category="sink", oracle="""
SELECT event_id, user_id FROM events
""")
def sink_bloom_layout(spark, sf_dir):
    """Bloom-filter layout round-trip: events rewritten with per-row-group
    bloom filters on the high-cardinality event_id (unsorted — min/max
    stats are useless there), re-read losslessly. The layout's point —
    row groups skipped on `event_id = x` lookups without any sort — is
    measured in tests/test_metrics.py (~12× fewer rows scanned than the
    same filter over the bloom-less layout)."""
    import os
    import tempfile

    from ..operators.shards import bloom_filter_layout

    ev = table(spark, sf_dir, "events").select("event_id", "user_id")
    out = os.path.join(tempfile.mkdtemp(prefix="bloom_"), "b")
    bloom_filter_layout(
        ev, out, bloom_cols=("event_id",), expected_ndv=1_000_000,
        row_group_bytes=256 * 1024,
    )
    return spark.read.parquet(out)


_SUMMING_MV_ORACLE = """
SELECT user_id, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS sum_value
FROM events
GROUP BY user_id, event_type
"""


@query("sink_summing_mv", eager=True, category="sink", oracle=_SUMMING_MV_ORACLE)
def sink_summing_mv(spark, sf_dir):
    """Incremental materialized-view maintenance — ClickHouse
    SummingMergeTree + MATERIALIZED VIEW parity (tables.sql's Buffer →
    MergeTree flow feeds exactly this pattern downstream): the event
    stream arrives in TWO batches (split by event_id parity, a stand-in
    for arrival order); each batch folds to per-(user, event_type)
    PARTIAL aggregate state (count + exact integer value sum — the
    mergeable state of a SummingMergeTree row), batch 1 lands as the MV
    parquet, batch 2 MERGES by union + re-sum (the background-merge
    compaction), and the query returns the maintained view. The oracle
    recomputes from ALL raw events, proving merge-of-partials ≡ full
    recompute — the algebraic-aggregate contract that lets a 100 TB
    deployment keep dashboards on pre-aggregated state and never rescan
    raw history: each refresh touches one increment plus the compact MV.
    Counts and sums stay BIGINT-exact through every merge."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("ys"),
    )

    def partial(df):
        return df.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("ys").alias("sum_scaled"),
        )

    mv_dir = os.path.join(tempfile.mkdtemp(prefix="summing_mv_"), "mv")
    partial(ev.filter(F.col("event_id") % 2 == 0)).write.mode("overwrite").parquet(
        mv_dir
    )
    increment = partial(ev.filter(F.col("event_id") % 2 == 1))
    merged = (
        spark.read.parquet(mv_dir)
        .unionByName(increment)
        .groupBy("user_id", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_scaled").alias("sum_scaled"),
        )
    )
    merged_dir = os.path.join(tempfile.mkdtemp(prefix="summing_mv_"), "mv2")
    merged.write.mode("overwrite").parquet(merged_dir)
    return spark.read.parquet(merged_dir).select(
        "user_id", "event_type", "n_events",
        (F.col("sum_scaled").cast("double") / 100.0).alias("sum_value"),
    )


@query(
    "sink_text_roundtrip", eager=True,
    category="sink",
    oracle="""
    SELECT COUNT(*) AS n_lines,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
           MIN(LENGTH(text)) AS min_len,
           MAX(LENGTH(text)) AS max_len
    FROM documents
    """,
)
def sink_text_roundtrip(spark, sf_dir):
    """Plain-text sink/source round trip (``spark.write.text`` /
    ``read.text``) — the interchange format of the LLM-corpus world
    (one document per line: the Pile/C4 lineage predates parquet-native
    pipelines, and plenty of tooling still speaks .txt): documents'
    text lands as line-oriented files and is re-read as the untyped
    `value` column. The check aggregates line count and length stats —
    file/row order is writer-dependent, aggregates are order-free, so
    the lossless-round-trip contract is EXACT (documents contain no
    newlines; a production writer escapes or length-prefixes them —
    the CSV/JSON round trip in sink_formats_roundtrip covers quoted
    embedded structure)."""
    import tempfile

    docs = table(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="text_rt_")
    docs.select("text").write.mode("overwrite").text(d)
    back = spark.read.text(d)
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).alias("total_chars"),
        F.min(F.length("value")).alias("min_len"),
        F.max(F.length("value")).alias("max_len"),
    )


@query(
    "sink_dynamic_partition_overwrite", eager=True,
    category="sink",
    oracle="""
    WITH final AS (
      SELECT * FROM orders
      WHERE strftime(o_orderdate, '%Y%m') <> '199506'
      UNION ALL
      SELECT * FROM orders
      WHERE strftime(o_orderdate, '%Y%m') = '199506'
        AND o_orderstatus = 'F'
    )
    SELECT strftime(o_orderdate, '%Y%m') AS ym,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM final GROUP BY 1 ORDER BY 1
    """,
)
def sink_dynamic_partition_overwrite(spark, sf_dir):
    """DYNAMIC partition overwrite — the idiom behind every
    restate-one-day backfill: mode('overwrite') with
    partitionOverwriteMode=dynamic replaces ONLY the partitions present
    in the incoming frame and must leave every other partition's files
    untouched (static overwrite would truncate the whole table — the
    classic data-loss footgun this query pins down). Sequence: land
    orders partitioned by month, then overwrite month 1995-06 with a
    restated slice (only status-F rows); the re-read table must equal
    UNION(all other months, restated slice) — any other month lost or
    duplicated shifts its count/key-sum and fails the hash. The setting
    is scoped to the session conf for the query's duration and
    restored. At 100 TB this is a metadata-only swap of one partition
    directory; the write shuffles only the restated slice."""
    base = os.path.join(tempfile.mkdtemp(prefix="sinkdpo_"), "fact")
    o = table(spark, sf_dir, "orders").withColumn(
        "ym", F.date_format("o_orderdate", "yyyyMM")
    )
    with scoped_conf(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        # REBALANCE on the partition column before a partitionBy write
        # (guide §6): without it every scan task holds rows of every
        # month, so the write fans out to tasks x months tiny files
        # (~2.5k at sf0.1 — listing + open overhead on the re-read, and
        # the classic small-files anti-pattern at 100 TB). The AQE
        # rebalance clusters each month into advisory-sized chunks:
        # one file per month locally, and at scale it SPLITS hot months
        # into ~advisory-size files instead of one giant file per month.
        # Same rows land in the table either way — re-read aggregate
        # (the oracle-checked result) is unchanged.
        o.hint("rebalance", "ym").write.mode("overwrite").partitionBy(
            "ym"
        ).parquet(base)
        restated = o.where(
            (F.col("ym") == "199506") & (F.col("o_orderstatus") == "F")
        )
        restated.hint("rebalance", "ym").write.mode("overwrite").partitionBy(
            "ym"
        ).parquet(base)
    return (
        spark.read.parquet(base)
        .groupBy(F.col("ym").cast("string").alias("ym"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
        )
        .orderBy("ym")
    )
