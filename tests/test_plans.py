"""Physical-plan regression tests: the scale properties the engine relies
on (predicate pushdown, column pruning, broadcast joins, partial
aggregation) must stay visible in the plans — a correctness-preserving
refactor that silently loses one of these is a 100 TB regression."""

from __future__ import annotations

from pyspark.sql import functions as F

from solis_solarman_clickhouse_spark.queries.registry import REGISTRY
from solis_solarman_clickhouse_spark.session import scoped_conf

from .conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def test_pruned_scan_pushes_filter_and_prunes_columns(spark):
    df = REGISTRY["scan_pruned_projection"].fn(spark, SF_DIR)
    plan = _formatted(df)
    assert "PushedFilters: [" in plan and "IsNotNull" in plan, plan
    # ReadSchema must contain exactly the touched columns — projection
    # (l_orderkey, l_extendedprice) plus the filter column l_shipdate
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    for col in ("l_orderkey", "l_extendedprice", "l_shipdate"):
        assert col in read_schema
    for col in ("l_quantity", "l_discount", "l_tax", "l_partkey"):
        assert col not in read_schema


def test_star_join_broadcasts_all_dimensions(spark):
    df = REGISTRY["join_star_revenue"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1


def test_tpch_q1_has_partial_aggregation(spark):
    df = REGISTRY["agg_tpch_q1"].fn(spark, SF_DIR)
    plan = _plan(df)
    # partial + final hash aggregate around one exchange
    assert plan.count("HashAggregate") >= 2, plan
    assert "Exchange" in plan


def test_topk_global_uses_take_ordered(spark):
    df = REGISTRY["sort_topk_global"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_whole_stage_codegen_covers_projection(spark):
    df = REGISTRY["proj_revenue_expr"].fn(spark, SF_DIR)
    # formatted mode marks codegen'd operators with "[codegen id : N]"
    assert "codegen id" in _formatted(df)


def test_scalar_fn_queries_have_no_python_udfs(spark):
    """Scalar-function families must stay JVM-side: no BatchEvalPython /
    ArrowEvalPython stages anywhere in their plans."""
    for name in [
        "string_functions", "date_functions", "math_functions",
        "conditional_functions", "array_functions", "map_functions",
        "json_extract", "doc_normalize", "doc_langid",
    ]:
        plan = _plan(REGISTRY[name].fn(spark, SF_DIR))
        assert "EvalPython" not in plan, f"{name} fell off the JVM path"


def test_funnel_single_user_shuffle(spark):
    """ch_window_funnel's three chained conditional-min windows must share
    ONE user_id exchange (plus the tiny funnel_level agg exchange) — a
    refactor that re-shuffles per stage triples the 100 TB cost."""
    plan = _plan(REGISTRY["ch_window_funnel"].fn(spark, SF_DIR))
    assert plan.count("Window") == 3, plan
    assert plan.count("Exchange") <= 2, plan


def test_topk_heavy_hitters_take_ordered(spark):
    plan = _plan(REGISTRY["agg_topk_heavy_hitters"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial+final count


def test_tpch_q6_pushes_all_filters(spark):
    """Q6 is the pure-scan query: shipdate/discount/quantity predicates must
    reach the parquet reader, and ReadSchema must exclude untouched cols."""
    plan = _formatted(REGISTRY["tpch_q6"].fn(spark, SF_DIR))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read_schema and "l_returnflag" not in read_schema


def test_tpch_q3_broadcasts_customer(spark):
    plan = _plan(REGISTRY["tpch_q3"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_tpch_sql_queries_stay_jvm_side(spark):
    for name in ["tpch_q3", "tpch_q5", "tpch_q6", "tpch_q10", "tpch_q14",
                 "tpch_q18", "tpch_q19"]:
        assert "EvalPython" not in _plan(REGISTRY[name].fn(spark, SF_DIR))


def test_bucketed_layout_removes_fact_fact_shuffle(spark, tmp_path):
    """The 100 TB join story: lineitem/orders written bucketed+sorted by
    orderkey join WITHOUT any Exchange (and without per-query Sort) — the
    physical layout carries the distribution, so the recurring fact-fact
    join costs a co-located merge instead of a full shuffle of both sides."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    for df, key, name in [(li, "l_orderkey", "li_b"), (o, "o_orderkey", "o_b")]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .bucketBy(8, key)
            .sortBy(key)
            .option("path", str(tmp_path / name))
            .format("parquet")
            .saveAsTable(name)
        )
    j = (
        spark.table("li_b").hint("merge")
        .join(spark.table("o_b").hint("merge"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    plan = _plan(j)
    assert "SortMergeJoin" in plan, plan
    # the join itself must be exchange-free; only the tiny post-join
    # aggregation on o_orderstatus may shuffle
    join_part = plan.split("HashAggregate")[-1]
    assert "Exchange" not in join_part, plan
    assert j.count() > 0
    for name in ("li_b", "o_b"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_no_python_eval_outside_udf_families(spark):
    """Global JVM-path guard: no registry query may contain an UNDECLARED
    BatchEvalPython / ArrowEvalPython / *InPandas stage. The declaration
    lives on the registry entry itself (``python_boundary=True`` on
    ``@query``, next to the kernel it justifies — see QuerySpec), so a new
    consumer of an existing vectorized kernel declares its boundary where
    the code is, instead of editing a test-local allowlist (the round-7
    regression class). ``eager=True`` queries (sinks, streaming) run work
    when built and are exercised by their own test families instead."""
    offenders = []
    for name, spec in sorted(REGISTRY.items()):
        if spec.eager or spec.python_boundary:
            continue
        plan = _plan(spec.fn(spark, SF_DIR))
        if "EvalPython" in plan or "InPandas" in plan:
            offenders.append(name)
    assert not offenders, (
        f"undeclared Python stage(s) in: {offenders} — if intentional, "
        "declare python_boundary=True on the @query registration"
    )


def test_plan_guard_declarations_are_scoped():
    """The eager escape hatch is only for families whose construction
    genuinely runs work (sinks write, streaming executes); anything else
    must face the JVM-path check or declare a python_boundary."""
    for name, spec in REGISTRY.items():
        if spec.eager:
            assert spec.category in ("sink", "streaming"), (
                f"{name}: eager=True outside sink/streaming ({spec.category})"
            )


def test_landing_table_partition_pruning(spark, tmp_path):
    """MergeTree parity of the landing store (tables.sql:32): a month
    filter on the landed table must prune at the directory level
    (PartitionFilters on ym), not scan-and-filter."""
    from solis_solarman_clickhouse_spark.ingest.fixture import generate_raw_registers
    from solis_solarman_clickhouse_spark.ingest.pipeline import run_batch
    from solis_solarman_clickhouse_spark.ingest.sink import IdempotentParquetSink

    sink = IdempotentParquetSink(str(tmp_path / "land"))
    # 40 days from 2024-01-01 -> spans 202401 and 202402 partitions
    run_batch(generate_raw_registers(spark, inverters=1, days=40), sink)
    df = spark.read.option("basePath", sink.base_path).parquet(
        f"{sink.base_path}/batch_id=*"
    )
    feb = df.filter(F.col("ym") == "202402").groupBy("inverter").count()
    plan = _formatted(feb)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "ym" in pf[0], plan
    assert feb.count() > 0


def test_aqe_splits_skewed_join(spark):
    """Skew story: a zipf-hot join key must trigger AQE's skew-join split
    (isSkew=true on the sort-merge join) when partition skew exceeds the
    thresholds — the runtime fix for hot keys that salting handles
    statically in agg_salted_skew."""
    import pyspark.sql.functions as SF

    with scoped_conf(spark, {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }):
        # 200k-row fact where 90% of rows share key 0; 100-row dim
        fact = spark.range(200_000).select(
            SF.when(SF.col("id") % 10 < 9, 0).otherwise(SF.col("id") % 100).alias("k"),
            SF.rand(7).alias("v"),
        )
        dim = spark.range(100).select(SF.col("id").alias("k"), SF.lit("x").alias("s"))
        j = fact.join(dim, "k").groupBy("s").agg(SF.sum("v"))
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isSkew=true" in plan or "skew=true" in plan, plan[:4000]


def test_ohlc_is_pure_agg_no_window(spark):
    """OHLC bars must stay a single partial+final aggregation — a refactor
    to ROW_NUMBER windows would add a full per-bucket sort at 100 TB.
    (min_by/max_by over a struct ordering key plans as SortAggregate, not
    HashAggregate — still map-side-combining partial+final around one
    exchange.)"""
    plan = _plan(REGISTRY["ts_ohlc_downsample"].fn(spark, SF_DIR))
    assert "Window" not in plan
    assert "partial_min_by" in plan and "partial_max_by" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_counter_reset_rate_single_exchange(spark):
    """Window (lag) and the per-user aggregation share one user_id
    shuffle."""
    plan = _plan(REGISTRY["ts_counter_reset_rate"].fn(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1


def test_sessionize_islands_single_exchange(spark):
    """lag, the prefix sum, and the per-session aggregation all ride one
    user_id exchange (Catalyst stacks the two windows, and the final
    groupBy keys are a superset of the window partition key)."""
    plan = _plan(REGISTRY["ts_sessionize_islands"].fn(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1


def test_decontamination_broadcasts_benchmark_set(spark):
    """The benchmark shingle set must broadcast — shuffling the corpus
    against it is the 100 TB anti-pattern the query exists to avoid."""
    plan = _plan(REGISTRY["doc_benchmark_decontamination"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_tpch_q21_semi_and_anti_on_fact(spark):
    """Q21's EXISTS + NOT EXISTS must decorrelate into semi and anti hash
    joins, not nested-loop correlation."""
    plan = _plan(REGISTRY["tpch_q21"].fn(spark, SF_DIR))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lateral_topn_decorrelates_to_window(spark):
    """LATERAL ... ORDER BY ... LIMIT per row must plan as a window rank
    (or equivalent join), never a per-row re-execution loop."""
    plan = _plan(REGISTRY["sub_lateral_topn"].fn(spark, SF_DIR))
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quantize_broadcasts_dim_stats(spark):
    """The per-dimension stats row must broadcast back onto the fact scan
    — a sort-merge join against a 1-row table would shuffle the corpus."""
    plan = _plan(REGISTRY["vec_quantize_int8"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_parquet_aggregate_pushdown_capability(spark):
    """count(*) can be answered from parquet footer metadata alone
    (PushedAggregation) when the V2 source is active — the 100 TB
    metadata-only-count path. Exercised with scoped confs (the engine
    default stays on V1: V2 changes nanos-timestamp and bucketed-write
    behavior, and the per-query win only matters for pure-stat queries)."""
    with scoped_conf(spark, {"spark.sql.parquet.aggregatePushdown": "true",
                             "spark.sql.sources.useV1SourceList": ""}):
        df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").groupBy().count()
        plan = _plan(df)
        assert "PushedAggregation: [COUNT(*)]" in plan, plan
        assert df.collect()[0][0] == spark.read.parquet(
            f"{SF_DIR}/lineitem.parquet"
        ).count()


def test_dynamic_partition_pruning_on_landing_table(spark, tmp_path):
    """The 100 TB dashboard join: landing table partitioned by month (ym)
    joined to a filtered month dimension must plan DYNAMIC partition
    pruning — the fact side's partition filter is fed at runtime from the
    dim side's build, so only the selected months' directories are read
    (static pruning can't help; the months come from the dim filter)."""
    from solis_solarman_clickhouse_spark.ingest.fixture import generate_raw_registers
    from solis_solarman_clickhouse_spark.ingest.pipeline import run_batch
    from solis_solarman_clickhouse_spark.ingest.sink import IdempotentParquetSink

    sink = IdempotentParquetSink(str(tmp_path / "land"))
    run_batch(generate_raw_registers(spark, inverters=1, days=70), sink)
    fact = spark.read.option("basePath", sink.base_path).parquet(
        f"{sink.base_path}/batch_id=*"
    )

    months = fact.select("ym").distinct().collect()
    assert len(months) >= 3
    dim = spark.createDataFrame(
        [(r["ym"], f"label{i}") for i, r in enumerate(months)], ["ym", "label"]
    ).filter(F.col("label") == "label0")

    with scoped_conf(spark, {"spark.sql.optimizer.dynamicPartitionPruning.enabled": "true"}):
        j = fact.join(dim, "ym").groupBy("ym").count()
        plan = _plan(j)
        assert "dynamicpruning" in plan.lower(), plan
        assert j.count() >= 1


def test_bloom_prefilter_stacks_broadcast_semi_joins(spark):
    # operators/bloom: 3 bloom lanes + 1 exact join, ALL broadcast left-semi
    # — the fact side must never reach a shuffle exchange.
    df = REGISTRY["join_bloom_prefilter"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_salted_join_replicates_dim_broadcast(spark):
    # the salted dim (customer x 8) must be the broadcast side; the skewed
    # fact side joins without a sort-merge shuffle.
    df = REGISTRY["join_skew_salted"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_ema_single_window_exchange(spark):
    # bounded EMA = one window over (user_id) — exactly one shuffle, and
    # the weighted fold stays in JVM expressions (no python eval).
    df = REGISTRY["ts_ema_bounded"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_reservoir_sample_uses_window_group_limit(spark):
    # rank<=k prefilter must appear as WindowGroupLimit so only k rows per
    # group cross the exchange.
    df = REGISTRY["scan_reservoir_per_group"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "WindowGroupLimit" in plan, plan


def test_multi_distinct_uses_expand_not_multipass(spark):
    # two different DISTINCT columns in one agg must plan as a single scan
    # + Expand, not separate scans joined back.
    df = REGISTRY["agg_count_distinct_multi"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "Expand" in plan, plan
    assert plan.count("FileScan") == 1 or plan.count("Scan parquet") == 1, plan


def test_bm25_broadcasts_df_and_corpus_stats(spark):
    """doc_bm25_search: term document-frequencies and the 1-row corpus
    stats must come back as broadcasts — the only shuffle is the
    (doc, term) partial count; the score join never repartitions the
    term-frequency side."""
    plan = _plan(REGISTRY["doc_bm25_search"].fn(spark, SF_DIR))
    assert plan.count("BroadcastExchange") >= 2, plan


def test_hampel_single_user_exchange(spark):
    """ts_hampel_outliers: the rolling median and MAD ride ONE user_id
    window exchange — the deviation array is derived from the collected
    window array in the same stage, not a second shuffle."""
    plan = _plan(REGISTRY["ts_hampel_outliers"].fn(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_window_top_type_single_aggregation_pass(spark):
    """stream_window_top_type: the per-window winner is min_by inside the
    same aggregation pipeline — no Window operator (rank) in the plan."""
    plan = _plan(REGISTRY["stream_window_top_type"].fn(spark, SF_DIR))
    assert "Window" not in plan, plan


def test_rank_corr_no_hash_exchange_after_ranks(spark):
    """ch_rank_corr: the two rank windows are the only wide operators —
    the moment aggregation is a single-row global agg (SinglePartition
    exchange), never a hash repartition of the ranked rows."""
    plan = _plan(REGISTRY["ch_rank_corr"].fn(spark, SF_DIR))
    assert "Window" in plan
    assert plan.count("Exchange hashpartitioning") == 0, plan


def test_semantic_text_dedup_broadcasts_shingles(spark):
    """doc_semantic_text_dedup: both document-shingle sides join into the
    candidate pairs as broadcasts — the candidate set, not the corpus,
    drives the lexical comparison."""
    plan = _plan(REGISTRY["doc_semantic_text_dedup"].fn(spark, SF_DIR))
    assert plan.count("BroadcastExchange") >= 2, plan


def test_jaccard_capped_prunes_hot_shingles_via_equi_joins(spark):
    """doc_neardup_jaccard_capped: the hot-shingle cap must appear as a
    doc-frequency aggregate feeding an EQUI semi-filter on the index (no
    nested-loop join anywhere except the 1-row doc-count broadcast), and
    the pair-generating self-join must stay a shingle equi-join."""
    plan = _plan(REGISTRY["doc_neardup_jaccard_capped"].fn(spark, SF_DIR))
    # frequency cap: the _df aggregate and the 1-row count broadcast exist
    assert "_df" in plan, plan
    assert "_n_docs" in plan, plan
    # every nested-loop in the plan is the 1-row doc-count broadcast (the
    # self-join plans that subtree once per side); none may involve data
    nlj_lines = [l for l in plan.splitlines() if "BroadcastNestedLoopJoin" in l]
    assert all("_n_docs" in l for l in nlj_lines), plan
    # candidate generation and verification remain equi-joins on shingle
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_jaccard_capped_equals_uncapped_on_fixture(spark):
    """The cap (max_df_frac=0.01) drops shingles on the fixture yet must
    not change the reported pairs — capping prunes candidate generation
    only; verification recomputes exact Jaccard on the full index."""
    from solis_solarman_clickhouse_spark.operators.dedup import ngram_jaccard_pairs
    from solis_solarman_clickhouse_spark.tables import table

    docs = table(spark, SF_DIR, "documents")
    base = {tuple(r) for r in ngram_jaccard_pairs(docs, k=3, threshold=0.8).collect()}
    capped = {
        tuple(r)
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.8, max_df_frac=0.01).collect()
    }
    assert capped == base


def test_multitable_lsh_explode_carries_ids_only(spark):
    """ann_lsh_multitable_topk: the L-way bucket explode must emit only
    (vec_id, bucket) — the embedding payload may never ride through the
    row multiplication (L x vector bytes would dominate the shuffle at
    scale). Vectors re-enter later via the id-join fetch."""
    plan = _plan(REGISTRY["vec_ann_recall_lsh"].fn(spark, SF_DIR))
    for line in plan.splitlines():
        if "Generate explode" in line:
            assert "embedding" not in line.split("[", 1)[-1] or "vec_id" in line, line
    # the candidate pairs deduplicate before scoring: a distinct aggregate
    # exists between the bucket join and the cosine computation
    assert "HashAggregate" in plan


def test_semdedup_bucket_stream_carries_ids_only(spark):
    """vec_semdedup: the L-way LSH bucket explode must emit only
    (vec_id, bucket) — embeddings re-enter via the candidate id-joins, so
    the bucket self-join shuffles 16-byte rows, not 256-byte vectors."""
    plan = _plan(REGISTRY["vec_semdedup"].fn(spark, SF_DIR))
    for line in plan.splitlines():
        if "Generate explode" in line:
            assert "embedding" not in line.split("[", 1)[-1] or "vec_id" in line, line
    # candidate pairs deduplicate before the exact cosine scoring
    assert "HashAggregate" in plan


def test_in_bucket_pairs_single_pipeline_no_self_join(spark):
    """doc_neardup_minhash: in_bucket_pairs candidate generation runs the
    signature pipeline ONCE — the plan must contain no join upstream of
    the first aggregate-over-buckets (the old banded self-join shape ran
    the shingle explode + 32 min-aggregates once per side). The only
    joins left are the candidate-restricted verification joins."""
    from solis_solarman_clickhouse_spark.tables import table
    from solis_solarman_clickhouse_spark.operators.dedup import (
        in_bucket_pairs, minhash_signatures)
    from pyspark.sql import functions as F

    sigs = minhash_signatures(table(spark, SF_DIR, "documents"), n_hashes=32)
    banded = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.xxhash64(F.element_at("signature", b + 1)) for b in range(8)])
        ).alias("band", "bucket"),
    )
    cand = in_bucket_pairs(
        banded, F.col("doc_id"),
        lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
    )
    plan = _plan(cand)
    assert "Join" not in plan, plan
    # shingle explode appears exactly once (one Generate for shingles, one
    # for the band posexplode, one for the pair expansion)
    n_gen = sum(1 for line in plan.splitlines() if "Generate" in line)
    assert n_gen == 3, plan


def test_quality_classifier_aggregates_map_side(spark):
    """doc_quality_classifier: the token-feature count and the per-doc
    packing are plain hash aggregates (partial_count → count, both
    map-side combinable) with no join anywhere — corpus cost is two
    shuffles (doc_id×j, then doc_id), independent of vocabulary size."""
    plan = _plan(REGISTRY["doc_quality_classifier"].fn(spark, SF_DIR))
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 3, plan


def test_dup_span_coverage_reexplodes_only_duplicated_grams(spark):
    """doc_dup_span_coverage: the 8x coverage re-explode must sit above the
    df>=2 join (only grams that PROVED duplicated expand), and the gram
    stream must carry the fixed-width hash, never the gram text."""
    plan = _plan(REGISTRY["doc_dup_span_coverage"].fn(spark, SF_DIR))
    assert "sequence(pos" in plan or "sequence" in plan
    for line in plan.splitlines():
        if "Generate explode(sequence" in line:
            assert "concat_ws" not in line, line


def test_chunk_split_is_map_only(spark):
    """doc_chunk_split must stay a shuffle-free scan→project→generate
    pipeline — the 100 TB contract of the chunking pass is 'linear in
    input bytes, no exchange'."""
    df = REGISTRY["doc_chunk_split"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "Generate" in plan, plan


def test_stratified_sample_filters_in_scan_stage(spark):
    """The per-stratum hash predicate must run before the aggregation's
    exchange (one map-side filter, not per-stratum passes): exactly one
    Exchange in the whole plan — the groupBy's."""
    df = REGISTRY["scan_stratified_sample"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange") <= 2, plan  # partial/final agg boundary only
    assert "Filter" in plan, plan


def test_ivfpq_scoring_broadcasts_probe_side(spark):
    """vec_ivfpq_topk's candidate scan must be a broadcast equi-join on
    list_id (the tiny query×probe side ships to the codes), never a
    shuffle of the corpus codes toward the queries."""
    df = REGISTRY["vec_ivfpq_topk"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_pagerank_reuses_exchanges_across_sweeps(spark):
    """graph_pagerank's 3 unrolled sweeps re-walk the same edges/degree
    relations; ReuseExchange (or the adaptive equivalent) must kick in so
    the edge-build subtree is not re-shuffled once per sweep from
    scratch."""
    df = REGISTRY["graph_pagerank"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert (
        plan.count("InMemoryTableScan") >= 4
        or "ReusedExchange" in plan
        or "TableCacheQueryStage" in plan
    ), plan


def test_dynamic_partition_pruning(spark, tmp_path):
    """Dynamic partition pruning: a fact table partitioned on a join key
    joined to a FILTERED dimension must get a runtime dynamicpruning
    subquery in its PartitionFilters — the fact side reads only the
    partitions the filtered dim can reach, decided at execution, not
    parse, time. This is the join-shaped analogue of the static month
    pruning above and the single biggest scan-saver for star joins over
    partitioned 100 TB facts."""
    fact_dir = str(tmp_path / "fact_part")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ev.withColumn("utype", (F.col("user_id") % 10).cast("int")).write.partitionBy(
        "utype"
    ).mode("overwrite").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    dim = spark.range(10).select(
        F.col("id").cast("int").alias("utype"),
        (F.col("id") % 3).alias("seg"),
    ).where(F.col("seg") == 0)
    joined = fact.join(dim, "utype").groupBy("seg").count()
    plan = _formatted(joined)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "dynamicpruning" in pf[0], plan
    assert joined.count() > 0


def test_nested_struct_schema_pruning(spark, tmp_path):
    """Nested-field schema pruning: selecting one leaf of a struct column
    must reach the parquet reader as a PRUNED nested ReadSchema (only
    that leaf), not the whole struct — on a 100 TB table whose metadata
    struct carries wide payloads, reading `meta.lang` must not drag
    `meta.blob` off disk. Spark's nestedSchemaPruning is on by default;
    this pins it."""
    d = str(tmp_path / "nested")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    (
        ev.select(
            "event_id",
            F.struct(
                F.col("event_type").alias("etype"),
                F.col("value").alias("payload"),
                F.col("user_id").alias("uid"),
            ).alias("meta"),
        )
        .write.mode("overwrite")
        .parquet(d)
    )
    q = spark.read.parquet(d).select("event_id", F.col("meta.etype"))
    plan = _formatted(q)
    rs = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "etype" in rs, rs
    assert "payload" not in rs and "uid" not in rs, rs
    assert q.count() > 0


def test_bucket_pruning_on_bucketed_table(spark, tmp_path):
    """Bucket pruning: an equality filter on the bucketing key must scan
    ONE bucket, not all of them — the plan's SelectedBucketsCount shows
    the reader skipping whole buckets by hashing the literal. The third
    data-skipping tier next to partition pruning (directories) and
    min/max-or-bloom (row groups): at 100 TB a point lookup on a
    bucketed fact touches 1/N of the files with zero index structures."""
    spark.sql("DROP TABLE IF EXISTS ev_bucketed")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    (
        ev.write.mode("overwrite")
        .bucketBy(8, "user_id")
        .option("path", str(tmp_path / "ev_bucketed"))
        .format("parquet")
        .saveAsTable("ev_bucketed")
    )
    some_uid = ev.select("user_id").first()[0]
    # autoBucketedScan turns bucketed reading off when no join/agg wants
    # the distribution — but bucket FILTER pruning needs the bucketed
    # scan, so pin it on for the probe (restore after)
    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    try:
        with scoped_conf(spark, {key: "false"}):
            q = spark.table("ev_bucketed").where(F.col("user_id") == some_uid)
            plan = _formatted(q)
            sel = [l for l in plan.splitlines() if "SelectedBucketsCount" in l]
            assert sel and "1 out of 8" in sel[0], plan
            assert q.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS ev_bucketed")


def test_curation_v3_returned_plan_rescans_no_documents(spark):
    """doc_curation_v3 materializes each tier's survivor id-set; the
    RETURNED plan must read only the cached id frames (InMemoryTableScan)
    and the embeddings table — zero re-scans of documents.parquet. A
    regression here re-expands a corpus-scale scan once per verdict
    branch (the 100 TB blow-up the materialization exists to prevent)."""
    df = REGISTRY["doc_curation_v3"].fn(spark, SF_DIR)

    def live_documents_scans(node) -> int:
        # an InMemoryTableScan prints its cached child plan, but that
        # subtree does NOT execute — stop descending there
        if "InMemoryTableScan" in node.nodeName():
            return 0
        hit = 1 if ("Scan" in node.nodeName() and "documents" in node.simpleString(200)) else 0
        kids = node.children()
        return hit + sum(
            live_documents_scans(kids.apply(i)) for i in range(kids.size())
        )

    root = df._jdf.queryExecution().executedPlan()
    assert live_documents_scans(root) == 0, _plan(df)
    assert "InMemoryTableScan" in _plan(df)


def test_decontaminate_broadcasts_eval_gram_set(spark):
    """doc_decontaminate_overlap's scale story is that the eval-side gram
    set broadcasts (tiny vs the corpus) — the probe join must be a
    BroadcastHashJoin, never a shuffled join of the corpus gram stream."""
    plan = _plan(REGISTRY["doc_decontaminate_overlap"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_gopher_rules_is_zero_shuffle(spark):
    """doc_gopher_rules claims one scan, zero shuffles, zero explodes —
    pure column arithmetic. Pin it: no Exchange, no Generate."""
    plan = _plan(REGISTRY["doc_gopher_rules"].fn(spark, SF_DIR))
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan


def test_anova_has_partial_aggregation(spark):
    """agg_anova_oneway must map-side-combine its per-group moments."""
    plan = _plan(REGISTRY["agg_anova_oneway"].fn(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2, plan


def test_rouge1_broadcasts_eval_tf_tables(spark):
    """doc_rouge1_decontam_score: the corpus side never joins all-pairs
    against the eval set. On the bounded-eval-vocab fixture the dense
    mapInPandas kernel fires (eval tf matrix rides an sc.broadcast, the
    corpus is one scan — no join at all); a natural vocabulary takes
    the sparse plan, which must BROADCAST the tiny eval tf/total tables
    onto the training token stream."""
    df = REGISTRY["doc_rouge1_decontam_score"].fn(spark, SF_DIR)
    plan = _plan(df)
    if "MapInPandas" in plan:  # dense bounded-vocab path
        assert "Join" not in plan, plan
    else:  # sparse natural-vocab path
        assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_prototype_prune_is_single_window_over_assignment(spark):
    """vec_prototype_prune: centroid assignment is a scan-side literal
    fold (no join for the 16x64 centroids — they're inlined into the
    projection), and the only shuffle feeds the per-cluster rank
    window; nothing all-pairs."""
    df = REGISTRY["vec_prototype_prune"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "Join" not in plan, plan
    assert plan.count("Window") >= 1, plan


def test_dedup_rate_by_source_has_partial_aggregation(spark):
    """doc_dedup_rate_by_source: both the digest groupBy and the source
    groupBy are hash aggregations with map-side partials."""
    df = REGISTRY["doc_dedup_rate_by_source"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 4, plan


def test_ccnet_buckets_broadcasts_lm_tables(spark):
    """doc_ccnet_perplexity_buckets: the vocab LM and total-count tables
    broadcast onto the token stream (scoring is scan-side); the
    per-language tercile is the only windowed shuffle."""
    df = REGISTRY["doc_ccnet_perplexity_buckets"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 1, plan
    assert plan.count("Window") >= 1, plan


def test_assortativity_broadcasts_degree_table(spark):
    """graph_degree_assortativity joins the |V|-bounded degree table onto
    the edge list at BOTH endpoints — each must be a broadcast hash join
    (the degree table is tiny relative to a 100 TB edge list; a
    sort-merge join would shuffle the edges twice for nothing)."""
    df = REGISTRY["graph_degree_assortativity"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_kcore_final_state_reads_cache(spark):
    """graph_kcore_onion's peel loop materializes each round's (node, a,
    layer) state (localCheckpoint since the r9 optimization round — the
    state is referenced twice per round, so persist-with-lineage doubled
    the logical plan per round); the RETURNED plan must read the final
    round from a MATERIALIZED source (checkpoint scan / cache scan)
    rather than re-deriving 3 rounds of join+agg lineage — no Window
    operators from the chain-edges build may appear. This also pins the
    fix for the naive alive-set formulation whose 4-references-per-round
    unrolled plan OOMed canonicalization in a vanilla 1 GB driver."""
    df = REGISTRY["graph_kcore_onion"].fn(spark, SF_DIR)
    plan = _plan(df)
    # (an InMemoryRelation's textual description embeds its cached child
    # plan, so window operators may APPEAR in the text — the guard is
    # that the final state is read from a materialized source)
    assert (
        "InMemoryTableScan" in plan
        or "TableCacheQueryStage" in plan
        or "Scan ExistingRDD" in plan
    ), plan


def test_connected_components_reads_materialized_state_without_sort_merge_join(spark):
    """graph_connected_components materializes each round's |V|-bounded
    label state (localCheckpoint since the r9 optimization round: the
    persisted-lineage form carried a 2.1 MB final plan re-embedding the
    chain-edges subtree, re-analyzed at every barrier) — the returned
    plan must read cached or checkpointed state (cache scan / checkpoint
    scan) and must contain no SortMergeJoin."""
    df = REGISTRY["graph_connected_components"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert (
        "InMemoryTableScan" in plan
        or "TableCacheQueryStage" in plan
        or "Scan ExistingRDD" in plan
    ), plan
    assert "SortMergeJoin" not in plan, plan


def test_pca_project_broadcasts_component(spark):
    """vec_pca_project_topk joins the 64-row component as a broadcast
    literal and takes the top-20 via TakeOrdered — no global sort, no
    sort-merge join of the exploded fact side."""
    df = REGISTRY["vec_pca_project_topk"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bollinger_single_exchange_feeds_window_and_rollup(spark):
    """ts_bollinger_breakouts partitions once on user_id: the rolling
    (n, Σq, Σq²) window and the final per-user rollup must share ONE
    exchange (hashpartitioning on user_id appears exactly once)."""
    df = REGISTRY["ts_bollinger_breakouts"].fn(spark, SF_DIR)
    plan = _plan(df)
    n_user_exchanges = sum(
        1
        for line in plan.splitlines()
        if "Exchange hashpartitioning(user_id" in line.strip()
    )
    assert n_user_exchanges == 1, plan


def test_bitmap_ops_card_join_is_broadcast(spark):
    """ch_group_bitmap_ops derives OR/XOR by inclusion-exclusion from
    the types-sized cardinality table — both joins of that table onto
    the pair counts must be broadcasts, never a shuffle of the pair
    relation."""
    df = REGISTRY["ch_group_bitmap_ops"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_split_leakage_semi_join_prunes_payload(spark):
    """doc_split_leakage_report probes train membership with a LEFT SEMI
    join on the hashed shingle key — the semi join must be present (no
    payload duplication) and the aggregate must have a partial phase."""
    df = REGISTRY["doc_split_leakage_report"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "LeftSemi" in plan, plan
    assert "partial_count" in plan or "partial" in plan.lower(), plan


def test_kcore_full_converges_and_is_monotone(spark):
    """graph_kcore_full must EXIT EARLY (data-decided round count < the
    16-round safety cap) and agree with the fixed-R onion on the overlap:
    a node peeled in onion round r<=3 must carry the same layer here
    (the peel recursion is identical; full just runs it to fixpoint)."""
    from solis_solarman_clickhouse_spark.queries.graph import graph_kcore_full

    full = REGISTRY["graph_kcore_full"].fn(spark, SF_DIR).collect()
    assert 0 < graph_kcore_full.last_rounds < 16, graph_kcore_full.last_rounds
    onion = {
        r["custkey"]: r["layer"]
        for r in REGISTRY["graph_kcore_onion"].fn(spark, SF_DIR).collect()
    }
    for row in full:
        if 0 < onion[row["custkey"]] <= 3:
            assert row["peel_layer"] == onion[row["custkey"]], row
        # fixpoint: nothing may still be alive with layer 0 unless in core
        assert row["in_core"] in (0, 1)
        assert (row["in_core"] == 1) == (row["peel_layer"] == 0) or (
            row["in_core"] == 0 and row["peel_layer"] > 0
        )


def test_pagerank_converged_invariants(spark):
    """graph_pagerank_converged must stop before the 48-round cap
    (period-<=2 orbit detection), conserve total rank mass to within the
    integer-floor loss bound (each node floors away < 1+0.85 units per
    round => total in [0.985*N*1e4, N*1e4]), and rank leaves (degree-1
    chain ends) strictly below the global mean."""
    from solis_solarman_clickhouse_spark.queries.graph import (
        graph_pagerank_converged,
    )

    rows = REGISTRY["graph_pagerank_converged"].fn(spark, SF_DIR).collect()
    assert 0 < graph_pagerank_converged.last_rounds < 48, (
        graph_pagerank_converged.last_rounds
    )
    n = len(rows)
    total = sum(r["rank_e4"] for r in rows)
    assert 0.985 * n * 10000 <= total <= n * 10000, total / (n * 10000)
    assert min(r["rank_e4"] for r in rows) > 0
