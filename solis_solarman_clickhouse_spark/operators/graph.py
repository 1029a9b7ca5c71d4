"""Connected components over a pair list — the clustering step that turns
near-dup PAIRS into dedup GROUPS (keep one doc per component, drop the
rest). Spark has no native graph operator; this is min-label propagation
expressed as DataFrame joins:

    label(v) <- min(label(v), min over neighbors u of label(u))

iterated to fixpoint. Each round is one join + one aggregation (two
shuffles on the node key); rounds needed = graph diameter, and near-dup
graphs are overwhelmingly tiny cliques (diameter 1-2), so 3-5 rounds
close real corpora. The driver loop only checks a per-round convergence
COUNT — the data never leaves the cluster (no collect of nodes/edges),
which is what makes this shape survive 100 TB where a driver-side
union-find cannot.

The rounds run through caching.iterate, the loop driver shared with
queries/graph.py: a tracked localCheckpoint per round truncates the
lineage so the iteration count doesn't nest query plans exponentially,
and superseded round states release their blocks in-loop. In-loop
exchanges are sized from the measured node count
(session.loop_partitions) instead of the caller's shuffle conf —
the first convergence probe returns the count for free. AQE stays ON
here, unlike the affinity-graph loops: near-dup components have hot
nodes (a 10^4-copy boilerplate doc is one giant star), so the skew-join
safety net is load-bearing at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import iterate, tracked_checkpoint


def undirected(edges: DataFrame, key: str | None = None) -> DataFrame:
    """Both orientations of a two-column edge list: the rows (a, b) and
    (b, a) under the list's own column names (a UNION ALL, no dedup).
    ``key`` hash-partitions the result on that column at the session's
    shuffle-partition count (the iterative loops run under
    session.pinned_shuffle), so each round's join on it reuses the
    partitioning and only the round state exchanges."""
    a, b = edges.columns
    und = edges.unionAll(edges.select(F.col(b).alias(a), F.col(a).alias(b)))
    if key is None:
        return und
    n = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return und.repartition(n, key)


def connected_components(
    pairs: DataFrame, *, src: str = "doc_a", dst: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Min-label connected components from an undirected pair list.
    Returns (node, component) where component = min node id reachable.
    Deterministic: min-label is order-independent."""
    from ..session import loop_partitions, pinned_shuffle

    spark = pairs.sparkSession
    edges = undirected(pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    edges = edges.distinct().transform(tracked_checkpoint)

    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .transform(tracked_checkpoint)
    )

    # Convergence test: labels only ever DECREASE under min-propagation, so
    # sum(label) is strictly monotone while any node changes — an unchanged
    # sum IS the fixpoint. One scalar aggregate over the (checkpointed)
    # label table per round, instead of a self-join + count. Decimal(38,0)
    # accumulation so 64-bit ids at corpus scale can't overflow the probe.
    # The first probe also returns the node count, which sizes the loop's
    # exchanges (undirected edges ≈ a few x nodes for near-dup graphs; the
    # conservative x8 keeps the estimate an overcount, never an undercount).
    def probe(df: DataFrame):
        row = df.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        return row["s"], row["n"]

    last_sum, n_nodes = probe(labels)

    def step(labels: DataFrame, _r: int) -> DataFrame:
        neighbor_min = (
            edges.join(labels, edges["v"] == labels["node"])
            .groupBy("u")
            .agg(F.min("label").alias("nlabel"))
        )
        return labels.join(
            neighbor_min, labels["node"] == neighbor_min["u"], "left"
        ).select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
            ).alias("label"),
        )

    def converged(_prev: DataFrame, cur: DataFrame) -> bool:
        nonlocal last_sum
        cur_sum, _ = probe(cur)
        done, last_sum = cur_sum == last_sum, cur_sum
        return done

    with pinned_shuffle(spark, loop_partitions(spark, (n_nodes or 0) * 8)):
        _, labels, _ = iterate(labels, step, rounds=max_iter, converged=converged)
    return labels.select(F.col("node"), F.col("label").alias("component"))
