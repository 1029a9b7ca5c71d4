"""Graph analytics over the order graph (north-star family: iterative
algorithms expressed as fixed-unroll Catalyst plans with exact integer
arithmetic, cross-checked against DuckDB replaying the identical
recursion).

The repo's other graph ops (connected components in operators/graph.py,
used by doc_dedup_clusters / vec_dedup_clusters) converge by monotone
min/sum propagation; PageRank is the complementary shape — a fixed
number of dense sweeps whose VALUES must match, not just a fixed point.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..caching import iterate, tracked_checkpoint, tracked_persist
from ..operators.graph import undirected
from ..session import loop_partitions, pinned_shuffle

from ..tables import footer_rows, table
from .registry import query

_SCALE = 1_000_000_000_000  # rank mass carried as integer millionths-of-millionths


def _affinity_loop_parts(spark, sf_dir) -> int:
    """In-loop partition count for the customer affinity graph's
    iterative queries (session.loop_partitions over the graph size).
    The affinity graph is three functional chains over customer, so
    |edges| ≤ 3·|customer| and the undirected adjacency ≤ 6·|customer|
    rows — read from the parquet footer, no Spark job. Falls back to
    the session parallelism (the previous pinned_shuffle default) when
    the footer isn't readable."""
    n_cust = footer_rows(sf_dir, "customer")
    return loop_partitions(spark, n_cust * 6 if n_cust else None)


def _pagerank_oracle(iters: int = 3) -> str:
    body = """
    WITH pairs AS (
      SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
      SELECT c AS src, s AS dst FROM pairs
      UNION ALL
      SELECT s AS src, c AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    deg AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    it0 AS (SELECT node, 1000000000000 // nn.n AS r FROM nodes CROSS JOIN nn)
    """
    for k in range(1, iters + 1):
        body += f""",
    it{k} AS (
      SELECT n2.node,
             (15 * (1000000000000 // nn.n)) // 100
             + (85 * COALESCE(s.m, 0)) // 100 AS r
      FROM nodes n2 CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst AS node, SUM(p.r // d.od) AS m
        FROM edges e
        JOIN it{k - 1} p ON e.src = p.node
        JOIN deg d ON e.src = d.src
        GROUP BY e.dst) s ON n2.node = s.node
    )
    """
    body += f"""
    SELECT node,
           CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           CAST(r AS BIGINT) AS rank_e12
    FROM it{iters}
    """
    return body


@query("graph_pagerank", category="graph", oracle=_pagerank_oracle())
def graph_pagerank(spark, sf_dir):
    """PageRank (damping 0.85, 3 sweeps) over the bidirectional
    customer↔supplier trading graph (an edge per distinct trading pair,
    both directions, so every node has out-degree ≥ 1 and no dangling
    mass): which customers/suppliers sit most centrally in the order
    network. The iteration is a FIXED UNROLL of join + groupBy rounds
    in one lazy Catalyst DAG — each sweep is contrib = r div outdeg
    scattered along edges, summed per destination, then
    r' = (15·(1e12 div N)) div 100 + (85·Σcontrib) div 100.
    ALL arithmetic is BIGINT with explicit floor division (values are
    positive, so Spark's truncating `div` ≡ DuckDB's flooring `//`):
    rank mass is carried at 1e12 scale and every engine sees the same
    integers — no float summation-order hazard an iterative double
    version would have. N arrives as a broadcast one-row aggregate, not
    a collected literal, so the plan stays fully declarative. At scale:
    each sweep is one shuffle on dst (the edges relation is re-used, so
    a production run pre-partitions edges by src and checkpoints every
    few sweeps — the operators/graph.py pattern); 3 unrolled sweeps ≈
    the lineage depth AQE handles comfortably."""
    with pinned_shuffle(spark):
        return _pagerank_unrolled(spark, sf_dir)


def _pagerank_unrolled(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = undirected(pairs.toDF("src", "dst"))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    # Every sweep walks the degree-annotated edge list — persist THAT
    # (src, dst, od) relation once, so the distinct+union+degree subtree
    # runs a single time and each sweep reads the in-memory rows (the
    # iterative-graph analogue of operators/graph.py's checkpoint-per-
    # round; at 100 TB this is a StorageLevel.DISK materialization of
    # the edge list, standard for PageRank).
    ed = (
        edges.join(deg, "src")
        .repartition(spark.sparkContext.defaultParallelism, "src")
        .transform(tracked_persist)
    )
    # Bidirectional construction ⇒ every node has out-degree ≥ 1, so the
    # degree table's key set IS the node set — no extra distinct pass.
    nodes = deg.select(F.col("src").alias("node")).transform(tracked_persist)
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    base = nodes.crossJoin(F.broadcast(nn))
    r = base.select("node", "n", F.expr(f"{_SCALE} div n").alias("r"))
    for _ in range(3):
        # The rank vector is |V|-sized and joins the KEY-PARTITIONED
        # persisted edge list cluster-side (edges never re-shuffle; only
        # the rank vector exchanges), and the per-dst sum combines
        # MAP-SIDE before the one |V|-sized exchange per sweep. No
        # F.broadcast here: broadcasting the LAZY round-k rank plan is a
        # driver collect that re-executes rounds 1..k-1 per round (the
        # _pagerank_converged_loop lesson).
        contrib = ed.join(
            r.select(F.col("node").alias("src"), "r"), "src"
        ).select("dst", F.expr("r div od").alias("contrib"))
        s = contrib.groupBy("dst").agg(F.sum("contrib").alias("m"))
        r = base.join(s.withColumnRenamed("dst", "node"), "node", "left").select(
            "node",
            "n",
            F.expr(
                f"(15 * ({_SCALE} div n)) div 100"
                " + (85 * coalesce(m, 0)) div 100"
            ).alias("r"),
        )
    return r.select(
        "node",
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.col("r").cast("long").alias("rank_e12"),
    )


# --- customer affinity graph (shared by triangle count / link prediction) --
#
# The fixtures have no natural SPARSE unipartite graph (the trading graph
# is bipartite — zero triangles by construction — and the supplier
# co-supply projection is near-complete at every SF: measured 25.9 mean
# suppliers/part at sf0.01, so ALL C(s,2) pairs exist). The affinity graph
# instead links each customer to its successor in three deterministic
# rankings — next-higher (acctbal, custkey) within the same nation, within
# the same market segment, and globally. Union of three functional chains
# ⇒ out-degree ≤ 3, |E| ≈ 2.7|V| at every SF (measured 385 edges / 40
# triangles at sf0.001, 4 079 / 472 at sf0.01), data-derived and
# order-deterministic on both engines (the (acctbal, custkey) sort key is
# unique).

_CHAIN_EDGES_SQL = """
    e1 AS (
      SELECT c_custkey AS a,
             LEAD(c_custkey) OVER (PARTITION BY c_nationkey
                                   ORDER BY c_acctbal, c_custkey) AS b
      FROM customer),
    e2 AS (
      SELECT c_custkey AS a,
             LEAD(c_custkey) OVER (PARTITION BY c_mktsegment
                                   ORDER BY c_acctbal, c_custkey) AS b
      FROM customer),
    e3 AS (
      SELECT c_custkey AS a,
             LEAD(c_custkey) OVER (ORDER BY c_acctbal, c_custkey) AS b
      FROM customer),
    edges AS (
      SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
      FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2
            UNION ALL SELECT * FROM e3)
      WHERE b IS NOT NULL),
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges)
      GROUP BY node)
"""


def _chain_edges(spark, sf_dir):
    """(edges u<v, deg) DataFrames for the customer affinity graph."""
    from pyspark.sql import Window as W

    c = table(spark, sf_dir, "customer")
    chains = []
    for part in ("c_nationkey", "c_mktsegment", None):
        w = (
            W.partitionBy(part).orderBy("c_acctbal", "c_custkey")
            if part
            else W.orderBy("c_acctbal", "c_custkey")
        )
        chains.append(
            c.select(
                F.col("c_custkey").alias("a"),
                F.lead("c_custkey").over(w).alias("b"),
            )
        )
    e0 = chains[0].unionAll(chains[1]).unionAll(chains[2]).where(F.col("b").isNotNull())
    edges = e0.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).distinct()
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return edges, deg


def _degrees(und):
    """(node, d) from the persisted undirected adjacency (s, t), persisted
    too. The adjacency is materialized first (one count job), so the
    window-function chain-edge build runs once per query rather than
    again under the degree table and every later read."""
    und.count()
    return (
        und.groupBy(F.col("s").alias("node"))
        .agg(F.count(F.lit(1)).alias("d"))
        .transform(tracked_persist)
    )


@query(
    "graph_triangle_count",
    category="graph",
    oracle=f"""
    WITH {_CHAIN_EDGES_SQL},
    dir AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst
      FROM edges e
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v),
    tri AS (
      SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
      FROM dir ab
      JOIN dir bc ON bc.src = ab.dst
      JOIN dir ac ON ac.src = ab.src AND ac.dst = bc.dst),
    pern AS (
      SELECT node, COUNT(*) AS n_tri FROM (
        SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
      GROUP BY node)
    SELECT p.node AS custkey, d.d AS degree, p.n_tri,
           (2 * p.n_tri * 1000000) // (d.d * (d.d - 1)) AS lcc_e6
    FROM pern p JOIN deg d ON d.node = p.node
    ORDER BY custkey
    """,
)
def graph_triangle_count(spark, sf_dir):
    """Exact triangle counting + local clustering coefficient over the
    customer affinity graph — the canonical "is this community tightly
    knit" graph analytic (cf. Cohen 2009 MapReduce triangle enumeration).
    The SCALE-CORRECT plan, not the naive one: each undirected edge is
    oriented from its lower-(degree, id) endpoint to the higher one, so
    every triangle is emitted exactly once and the wedge join's fan-out
    is bounded by per-node OUT-degree ≤ O(sqrt(|E|)) (arboricity bound) —
    on a skewed graph the naive undirected wedge join explodes around
    hubs, the degree-oriented one provably cannot. Three joins total
    (wedge build + closure check), all equi-joins AQE can re-plan; the
    per-node count re-explodes each triangle to its three corners. LCC is
    integer-exact: 2·tri·1e6 // d(d−1) (positive domain, so Spark's
    truncating div ≡ DuckDB's flooring //)."""
    edges, deg = _chain_edges(spark, sf_dir)
    e = (
        edges.join(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), "v")
    )
    lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    dir_e = e.select(
        F.when(lower, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    ab = dir_e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = dir_e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = dir_e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    pern = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return (
        pern.join(deg, "node")
        .select(
            F.col("node").alias("custkey"),
            F.col("d").alias("degree"),
            "n_tri",
            F.expr("(2 * n_tri * 1000000) div (d * (d - 1))").alias("lcc_e6"),
        )
        .orderBy("custkey")
    )


@query(
    "graph_common_neighbors",
    category="graph",
    oracle=f"""
    WITH {_CHAIN_EDGES_SQL},
    und AS (
      SELECT u AS s, v AS t FROM edges
      UNION ALL SELECT v AS s, u AS t FROM edges),
    cand AS (
      SELECT n1.s AS u, n2.s AS v, COUNT(*) AS cn
      FROM und n1 JOIN und n2 ON n1.t = n2.t AND n1.s < n2.s
      GROUP BY n1.s, n2.s),
    nonadj AS (
      SELECT c.* FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.u = c.u AND e.v = c.v))
    SELECT n.u, n.v, n.cn,
           (n.cn * 1000000) // (du.d + dv.d - n.cn) AS jaccard_e6
    FROM nonadj n
    JOIN deg du ON du.node = n.u
    JOIN deg dv ON dv.node = n.v
    ORDER BY n.cn DESC, n.u, n.v LIMIT 20
    """,
)
def graph_common_neighbors(spark, sf_dir):
    """Link prediction by common-neighbor count + neighborhood Jaccard
    over the customer affinity graph: the top-20 NON-adjacent pairs most
    likely to become edges (Liben-Nowell & Kleinberg 2003). Candidate
    pairs come from one wedge self-join on the undirected adjacency list
    — only pairs sharing ≥1 neighbor are ever materialized (the same
    inverted-index discipline as the n-gram Jaccard dedup: never
    all-pairs) — then an anti-join strikes existing edges and the Jaccard
    denominator d(u)+d(v)−cn needs no neighbor-set intersection beyond
    the wedge count already in hand. Integer-exact score at 1e6 scale;
    total order (cn DESC, u, v) is unique per pair, so LIMIT 20 is
    deterministic on both engines. At 100 TB the wedge join is the
    bounded stage: cap hub degree (drop nodes above a degree ceiling)
    exactly as doc_neardup_jaccard_capped caps hot shingles; out-degree
    here is ≤ 3 by construction."""
    edges, deg = _chain_edges(spark, sf_dir)
    und = undirected(edges.toDF("s", "t"))
    n1 = und.select(F.col("s").alias("u"), F.col("t").alias("w"))
    n2 = und.select(F.col("s").alias("v"), F.col("t").alias("w"))
    cand = (
        n1.join(n2, "w")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    nonadj = cand.join(edges, ["u", "v"], "left_anti")
    return (
        nonadj.join(
            deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du"), "u"
        )
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), "v")
        .select(
            "u",
            "v",
            "cn",
            F.expr("(cn * 1000000) div (du + dv - cn)").alias("jaccard_e6"),
        )
        .orderBy(F.col("cn").desc(), "u", "v")
        .limit(20)
    )


@query(
    "graph_bfs_distance",
    category="graph",
    oracle="""
    WITH RECURSIVE e1 AS (
      SELECT c_custkey AS a,
             LEAD(c_custkey) OVER (PARTITION BY c_nationkey
                                   ORDER BY c_acctbal, c_custkey) AS b
      FROM customer),
    e2 AS (
      SELECT c_custkey AS a,
             LEAD(c_custkey) OVER (PARTITION BY c_mktsegment
                                   ORDER BY c_acctbal, c_custkey) AS b
      FROM customer),
    e3 AS (
      SELECT c_custkey AS a,
             LEAD(c_custkey) OVER (ORDER BY c_acctbal, c_custkey) AS b
      FROM customer),
    edges AS (
      SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
      FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2
            UNION ALL SELECT * FROM e3)
      WHERE b IS NOT NULL),
    und AS (
      SELECT u AS s, v AS t FROM edges
      UNION ALL SELECT v AS s, u AS t FROM edges),
    srcn AS (SELECT MIN(u) AS node FROM edges),
    bfs(node, d) AS (
      SELECT node, 0 FROM srcn
      UNION ALL
      SELECT und.t, bfs.d + 1 FROM bfs JOIN und ON und.s = bfs.node
      WHERE bfs.d < 4
    )
    SELECT node, MIN(d) AS dist FROM bfs GROUP BY node ORDER BY node
    """,
)
def graph_bfs_distance(spark, sf_dir):
    """Single-source BFS shortest-path distances (≤ 4 hops) over the
    customer affinity graph, from its minimum-id node — the reachability
    primitive under "how far is every account from this flagged one".
    Spark side is the scale-correct FRONTIER iteration, not path
    enumeration: 4 unrolled rounds of (join the current distance table
    onto the adjacency list, add 1, union, min per node) — each round is
    one equi-join + one map-side-combinable min aggregate, and the
    distance table stays |V|-bounded no matter how many paths exist. The
    DuckDB oracle instead enumerates all ≤4-hop paths with WITH
    RECURSIVE and takes MIN(d) per node — exponentially worse shape,
    feasible only at fixture scale, which is exactly the point of the
    comparison (same numbers, different asymptotics; the repo's
    recursive-CTE twin of the operators/graph.py min-propagation
    pattern). Positive-domain integer arithmetic throughout. In-loop
    joins are cluster-side against the key-partitioned persisted
    adjacency under pinned_shuffle (the _pagerank_converged_loop
    discipline)."""
    with pinned_shuffle(spark, _affinity_loop_parts(spark, sf_dir), aqe=False):
        return _bfs_rounds(spark, sf_dir)


def _bfs_rounds(spark, sf_dir):
    edges, _deg = _chain_edges(spark, sf_dir)
    und = undirected(edges.toDF("s", "t"), "s").transform(tracked_persist)
    srcn = edges.agg(F.min("u").alias("node"))

    def step(dist, _r):
        nxt = und.join(dist.withColumnRenamed("node", "s"), "s").select(
            F.col("t").alias("node"), (F.col("d") + 1).alias("d")
        )
        return dist.unionAll(nxt).groupBy("node").agg(F.min("d").alias("d"))

    _, dist, _ = iterate(srcn.select("node", F.lit(0).alias("d")), step, rounds=4)
    return dist.select("node", F.col("d").alias("dist")).orderBy("node")


def _kcore_oracle(k: int = 5, rounds: int = 3) -> str:
    # MATERIALIZED per round: inlined as views, a{r} re-evaluates its
    # whole CTE prefix at every reference (d{r+1} alone reads a{r}
    # twice), giving ~4^R re-expansion — the sf1.0 disk-spill wall.
    # Materialized, each round's frames compute once (the same fix the
    # kcore_full/pagerank unrolled oracles already carry).
    body = f"WITH {_CHAIN_EDGES_SQL},\n" + """
    und AS MATERIALIZED (
      SELECT u AS s, v AS t FROM edges
      UNION ALL SELECT v AS s, u AS t FROM edges),
    a0 AS (SELECT node FROM deg)
    """
    for r in range(1, rounds + 1):
        p = r - 1
        body += f""",
    d{r} AS MATERIALIZED (
      SELECT und.s AS node, COUNT(*) AS c
      FROM und
      JOIN a{p} x ON und.s = x.node
      JOIN a{p} y ON und.t = y.node
      GROUP BY und.s),
    r{r} AS MATERIALIZED (
      SELECT a{p}.node FROM a{p}
      LEFT JOIN d{r} ON d{r}.node = a{p}.node
      WHERE COALESCE(d{r}.c, 0) < {k}),
    a{r} AS MATERIALIZED (
      SELECT node FROM a{p}
      WHERE node NOT IN (SELECT node FROM r{r}))
    """
    layers = "\n      UNION ALL ".join(
        f"SELECT node, {r} AS layer FROM r{r}" for r in range(1, rounds + 1)
    )
    body += f"""
    SELECT lay.node AS custkey, lay.layer, deg.d AS deg0
    FROM ({layers}
      UNION ALL SELECT node, 0 AS layer FROM a{rounds}) lay
    JOIN deg ON deg.node = lay.node
    ORDER BY custkey
    """
    return body


@query("graph_kcore_onion", category="graph", oracle=_kcore_oracle())
def graph_kcore_onion(spark, sf_dir):
    """Onion decomposition of the customer affinity graph: iterative
    k-core peeling (k=5, 3 rounds) labels each node with the round in
    which it was removed (layer 1..3) or 0 if it survives into the
    residual core — the "how deep in the mesh does this account sit"
    centrality that degree alone misses (Hebert-Dufresne et al. 2016;
    ClickHouse has no graph surface at all, so this extends the
    reference's analytics the same way the dedup clustering family
    does). Spark side is the scale-correct PEEL iteration carried as
    NODE STATE, not set subtraction: one frame (node, a, layer) where
    a∈{0,1} marks survival, and each round computes alive-degree as
    SUM(a(t)) over the static adjacency list (a removed neighbor
    contributes 0, so edges never need rebuilding) then folds
    a' = a AND alive_deg ≥ k in a single projection. Two references to
    the state per round — the graph_bfs_distance growth rate — where the
    naive alive-set + anti-join formulation references its state 4× per
    round and the unrolled plan grows 4^R: at R=3 that tree OOMed
    Catalyst plan canonicalization in a vanilla 1 GB driver before any
    task ran (measured). The rounds run through caching.iterate (one
    localCheckpoint per round, superseded states released in-loop). A
    FIXED number of rounds keeps the oracle comparable: both engines run
    the identical unrolled recursion, so the row set is EXACT whether or
    not the peel has converged (the graph_pagerank convention). At 100 TB the loop runs
    to fixpoint with a per-round convergence count instead
    (operators/graph.py pattern); the per-round shuffle is one
    map-side-combinable SUM keyed by node — no anti-join cascade, no
    skew hazard (degrees ≤ 6 by construction here)."""
    with pinned_shuffle(spark, _affinity_loop_parts(spark, sf_dir), aqe=False):
        return _kcore_onion_rounds(spark, sf_dir)


def _kcore_onion_rounds(spark, sf_dir):
    deg, seed, step = _peel(spark, sf_dir, None, k=5)
    _, state, _ = iterate(seed, step, rounds=3)
    return (
        state.join(F.broadcast(deg), "node")
        .select(F.col("node").alias("custkey"), "layer", F.col("d").alias("deg0"))
        .orderBy("custkey")
    )


def _peel(spark, sf_dir, key, k):
    """The k-core peel shared by graph_kcore_onion and graph_kcore_full:
    (deg, seed state, step). The state is one frame (node, a, layer); a
    round sums the neighbors' ``a`` over the static adjacency (persisted,
    hash-partitioned on ``key`` when given) and folds a' = a AND
    alive_deg >= k, stamping round r as the layer of each node it
    removes."""
    edges, _deg = _chain_edges(spark, sf_dir)
    und = undirected(edges.toDF("s", "t"), key).transform(tracked_persist)
    deg = _degrees(und)
    seed = deg.select(
        "node", F.lit(1).alias("a"), F.lit(0).alias("layer")
    ).transform(tracked_checkpoint)

    def step(state, r):
        nbr = (
            und.join(
                state.select(F.col("node").alias("t"), F.col("a").alias("at")),
                "t",
            )
            .groupBy("s")
            .agg(F.sum("at").alias("alive_deg"))
        )
        alive_deg = F.coalesce(F.col("alive_deg"), F.lit(0))
        return state.join(nbr.withColumnRenamed("s", "node"), "node", "left").select(
            "node",
            F.when((F.col("a") == 1) & (alive_deg >= k), F.lit(1))
            .otherwise(F.lit(0))
            .alias("a"),
            F.when(F.col("layer") > 0, F.col("layer"))
            .when((F.col("a") == 1) & (alive_deg < k), F.lit(r))
            .otherwise(F.lit(0))
            .alias("layer"),
        )

    return deg, seed, step


@query(
    "graph_degree_assortativity",
    category="graph",
    oracle=f"""
    WITH {_CHAIN_EDGES_SQL},
    und AS (
      SELECT u AS s, v AS t FROM edges
      UNION ALL SELECT v AS s, u AS t FROM edges),
    ed AS (
      SELECT ds.d AS du, dt.d AS dv
      FROM und
      JOIN deg ds ON ds.node = und.s
      JOIN deg dt ON dt.node = und.t),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(du) AS HUGEINT) AS sx,
             CAST(SUM(du * dv) AS HUGEINT) AS sxy,
             CAST(SUM(du * du) AS HUGEINT) AS sxx
      FROM ed)
    SELECT CAST(n AS BIGINT) AS n_dir_edges,
           CAST(sx AS BIGINT) AS sum_deg,
           CAST(sxy AS BIGINT) AS sum_deg_prod,
           CAST(sxx AS BIGINT) AS sum_deg_sq,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                WHEN n * sxy - sx * sx < 0
                THEN -CAST((2 * (sx * sx - n * sxy) * 10000 + (n * sxx - sx * sx))
                           // (2 * (n * sxx - sx * sx)) AS BIGINT) / 10000.0 + 0.0
                ELSE CAST((2 * (n * sxy - sx * sx) * 10000 + (n * sxx - sx * sx))
                          // (2 * (n * sxx - sx * sx)) AS BIGINT) / 10000.0 + 0.0 END
             AS assortativity
    FROM m
    """,
)
def graph_degree_assortativity(spark, sf_dir):
    """Degree assortativity (Newman 2002) of the customer affinity
    graph: Pearson correlation between the degrees at the two ends of
    every edge — do well-connected accounts link to other
    well-connected accounts (r>0) or to the periphery (r<0)? Computed
    over the DIRECTED edge list (both orientations), so the symmetric
    formula applies: r = (n*Sxy - Sx^2) / (n*Sxx - Sx^2). One join of
    the edge list against the (broadcastable) degree table per endpoint
    and a single global aggregate — no window, no all-pairs anything;
    the exact integer moments (n, Sx, Sxy, Sxx) are emitted alongside
    so downstream gets the un-rounded sufficient statistics. The ratio
    itself uses the repo's exact half-away integer division at 4 dp
    over DECIMAL(38,0) operands (int64 wraps at n*Sxy ~ 1e18, i.e. a
    few hundred-million edges — exactly the 100 TB regime; DuckDB twin
    uses HUGEINT), sign split out because Spark DIV truncates while
    DuckDB // floors."""
    edges, deg = _chain_edges(spark, sf_dir)
    und = undirected(edges.toDF("s", "t"))
    ed = (
        und.join(F.broadcast(deg.withColumnRenamed("node", "s").withColumnRenamed("d", "du")), "s")
        .join(F.broadcast(deg.withColumnRenamed("node", "t").withColumnRenamed("d", "dv")), "t")
    )
    m = ed.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("du").cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("du") * F.col("dv")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("du") * F.col("du")).cast("decimal(38,0)").alias("sxx"),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_dir_edges"),
        F.col("sx").cast("bigint").alias("sum_deg"),
        F.col("sxy").cast("bigint").alias("sum_deg_prod"),
        F.col("sxx").cast("bigint").alias("sum_deg_sq"),
        F.expr(
            "CASE WHEN n * sxx - sx * sx = 0 THEN NULL"
            " WHEN n * sxy - sx * sx < 0"
            " THEN -CAST((2 * (sx * sx - n * sxy) * 10000 + (n * sxx - sx * sx))"
            "       DIV (2 * (n * sxx - sx * sx)) AS BIGINT) / 10000.0D + 0.0D"
            " ELSE CAST((2 * (n * sxy - sx * sx) * 10000 + (n * sxx - sx * sx))"
            "      DIV (2 * (n * sxx - sx * sx)) AS BIGINT) / 10000.0D + 0.0D END"
        ).alias("assortativity"),
    )


def _cc_oracle(rounds: int = 3) -> str:
    body = f"WITH {_CHAIN_EDGES_SQL},\n" + """
    und AS (
      SELECT u AS s, v AS t FROM edges
      UNION ALL SELECT v AS s, u AS t FROM edges),
    l0 AS (SELECT node, node AS lbl FROM deg)
    """
    for r in range(1, rounds + 1):
        p = r - 1
        body += f""",
    n{r} AS (
      SELECT und.s AS node, MIN(prev.lbl) AS nl
      FROM und JOIN l{p} prev ON prev.node = und.t
      GROUP BY und.s),
    l{r} AS (
      SELECT l{p}.node, LEAST(l{p}.lbl, COALESCE(n{r}.nl, l{p}.lbl)) AS lbl
      FROM l{p} LEFT JOIN n{r} ON n{r}.node = l{p}.node)
    """
    body += f"""
    SELECT lay.node AS custkey, lay.lbl AS component_r{rounds},
           cnt.m AS members_r{rounds}
    FROM l{rounds} lay
    JOIN (SELECT lbl, COUNT(*) AS m FROM l{rounds} GROUP BY lbl) cnt
      ON cnt.lbl = lay.lbl
    ORDER BY custkey
    """
    return body


@query("graph_connected_components", category="graph", oracle=_cc_oracle())
def graph_connected_components(spark, sf_dir):
    """Min-label connected-component propagation over the customer
    affinity graph, FIXED 3-round unroll — the registry-facing twin of
    the fixpoint operator operators/graph.connected_components (the
    clustering step behind doc_dedup_clusters / vec_dedup_clusters).
    Each round is
    label(v) <- min(label(v), min over neighbors of label(u)),
    expressed as one shuffle join and one aggregation: the |V|-bounded
    label vector joins the (big) undirected edge list, which is persisted
    once and hash-partitioned on the join key (edges never re-shuffle),
    the relayed labels UNION the nodes' own labels, and a per-node MIN
    combines map-side before a single |V|-sized exchange closes the
    round — one stage cheaper than the join+least formulation (the
    oracle keeps that equivalent algebra). 3 rounds match the
    kcore/pagerank unroll convention; a fixed unroll keeps both engines
    on the IDENTICAL recursion, so rows are EXACT-comparable whether or
    not labels have converged. Labels are node ids (BIGINT min — no
    float anywhere); the member count per surviving label is one window
    over the final labels. The rounds run through caching.iterate: each
    round's state is materialized (without it round k re-executes rounds
    1..k-1 from scratch — measured 170 s vs seconds at sf0.1) and
    superseded label frames are released in-loop, so peak cache stays
    two |V|-sized frames + the edge list rather than every round's
    labels coexisting until harness cleanup. At 100 TB: edges persist
    once and are read per round; label state stays |V|-bounded; diameter
    beyond the unroll is the fixpoint operator's job, not a deeper plan.
    In-loop joins run under pinned_shuffle with no F.broadcast (the
    _pagerank_converged_loop discipline — every in-loop F.broadcast of a
    state-derived frame is a driver collect job, and an unpinned loop
    pays the caller's shuffle-partition count in empty tasks per
    round)."""
    with pinned_shuffle(spark, _affinity_loop_parts(spark, sf_dir), aqe=False):
        return _cc_rounds(spark, sf_dir)


def _cc_rounds(spark, sf_dir):
    _und, _deg, labels = _cc_labels(spark, sf_dir)
    # member counts as ONE window over the checkpointed labels — the
    # earlier groupBy+join-back needed two exchanges and, with the
    # checkpointed state carrying no size statistics, degraded to a
    # sort-merge join; the window is a single lbl exchange + sort with
    # identical output (count per label attached to each row).
    from pyspark.sql import Window as W

    return labels.select(
        F.col("node").alias("custkey"),
        F.col("lbl").alias("component_r3"),
        F.count(F.lit(1)).over(W.partitionBy("lbl")).alias("members_r3"),
    )


def _cc_labels(spark, sf_dir):
    """The fixed 3-round min-label recursion shared by
    graph_connected_components and graph_modularity: (und, deg, labels).
    Each round relays the labels along the persisted adjacency
    (hash-partitioned on the relay key t), unions the nodes' own labels
    and keeps the min per node."""
    edges, deg = _chain_edges(spark, sf_dir)
    und = undirected(edges.toDF("s", "t"), "t").transform(tracked_persist)

    def step(labels, _r):
        cand = und.join(
            labels.select(F.col("node").alias("t"), "lbl"), "t"
        ).select(F.col("s").alias("node"), "lbl")
        return labels.unionAll(cand).groupBy("node").agg(F.min("lbl").alias("lbl"))

    seed = deg.select("node", F.col("node").alias("lbl")).transform(tracked_checkpoint)
    _, labels, _ = iterate(seed, step, rounds=3)
    return und, deg, labels


def _modularity_oracle(rounds: int = 3) -> str:
    """Compose the CC label recursion; modularity of the round-3 label
    partition from exact integer edge/degree sums at 1e6 scale.

    The 2m and within-edge counts FOLD INTO ONE PASS over the labeled
    edge join (every node is labeled, so the two inner joins preserve
    all of und: COUNT(*) = 2m). This is not a style choice: the earlier
    three-CTE form (separate mm / WHERE-filtered ein cross-joined at the
    end) returned a WRONG within-count in DuckDB v1.0.0 at sf1.0 volume
    (ein = 120 698 inside the composed query vs 422 686 when the
    IDENTICAL join ran standalone — Spark and standalone DuckDB agree);
    the same engine class as the documented list_reduce-at-volume
    misfold. Fourth volume-dependent DuckDB wrong-result shape this
    round; verified green at sf0.01/0.1/1.0 after the rewrite."""
    base = _cc_oracle.__wrapped__ if hasattr(_cc_oracle, "__wrapped__") else _cc_oracle
    cc = base(rounds)
    # reuse everything up to l{rounds}; strip the final SELECT
    cut = cc.index("SELECT lay.node")
    body = cc[:cut]
    return body + f"""
    , lab AS (SELECT node, lbl FROM l{rounds}),
    ew AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS m2,
             CAST(SUM(CASE WHEN a.lbl = b.lbl THEN 1 ELSE 0 END)
                  AS HUGEINT) AS win
      FROM und
      JOIN lab a ON a.node = und.s
      JOIN lab b ON b.node = und.t
    ),
    dsum AS (
      SELECT CAST(SUM(dd * dd) AS HUGEINT) AS sum_d2 FROM (
        SELECT a.lbl, CAST(SUM(d.d) AS HUGEINT) AS dd
        FROM deg d JOIN lab a ON a.node = d.node
        GROUP BY a.lbl)
    )
    SELECT CAST(ew.m2 AS BIGINT) AS n_directed_edges,
           CAST(ew.win AS BIGINT) AS n_within_edges,
           CAST(dsum.sum_d2 AS BIGINT) AS sum_comm_degree_sq,
           CASE WHEN ew.win * ew.m2 - dsum.sum_d2 < 0
                THEN -CAST((2 * (dsum.sum_d2 - ew.win * ew.m2) * 1000000
                            + ew.m2 * ew.m2)
                           // (2 * ew.m2 * ew.m2) AS BIGINT) / 1000000.0 + 0.0
                ELSE CAST((2 * (ew.win * ew.m2 - dsum.sum_d2) * 1000000
                           + ew.m2 * ew.m2)
                          // (2 * ew.m2 * ew.m2) AS BIGINT) / 1000000.0 + 0.0
           END AS modularity
    FROM ew, dsum
    """


@query("graph_modularity", category="graph", oracle=_modularity_oracle())
def graph_modularity(spark, sf_dir):
    """Newman modularity Q of the connected-component partition over
    the customer affinity graph — the "is this clustering better than
    chance" score that prices a partition before anything downstream
    trusts it: Q = Σ_c (e_c/m − (d_c/2m)²) = (2m·Σwin − Σ_c d_c²)/(2m)²
    over the DIRECTED edge count 2m (both orientations, so every term
    is an exact integer). Labels come from the SAME fixed 3-round
    min-label recursion as graph_connected_components (identical
    unroll in the oracle), so Q prices exactly the partition that
    query reports. Within-community edges are one edge-list join
    against the broadcast |V|-sized label table (counted, never
    materialized); per-community degree mass is a labels-sized rollup;
    the final scalar uses the half-away 1e-6 integer division over
    HUGEINT/DECIMAL(38,0) operands (m² at 1e9-edge scale is far past
    int64). In-loop joins are cluster-side shuffle joins under
    pinned_shuffle (the _pagerank_converged_loop discipline; measured
    184.7 s → seconds at sf1.0 under the sweep's vanilla session). At
    100 TB: two label joins over the persisted edge list + two bounded
    aggregations — no new shuffle shape beyond the CC rounds
    themselves."""
    with pinned_shuffle(spark, _affinity_loop_parts(spark, sf_dir), aqe=False):
        return _modularity_body(spark, sf_dir)


def _modularity_body(spark, sf_dir):
    und, deg, lab = _cc_labels(spark, sf_dir)
    m2 = und.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("m2"))
    win = (
        und.join(lab.withColumnRenamed("node", "s")
                 .withColumnRenamed("lbl", "la"), "s")
        .join(lab.withColumnRenamed("node", "t")
              .withColumnRenamed("lbl", "lb"), "t")
        .where(F.col("la") == F.col("lb"))
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("win"))
    )
    dsum = (
        deg.join(lab, "node")
        .groupBy("lbl")
        .agg(F.sum("d").cast("decimal(38,0)").alias("dd"))
        .agg(F.sum(F.col("dd") * F.col("dd")).cast("decimal(38,0)").alias("sum_d2"))
    )
    return (
        m2.crossJoin(F.broadcast(win))
        .crossJoin(F.broadcast(dsum))
        .select(
            F.col("m2").cast("bigint").alias("n_directed_edges"),
            F.col("win").cast("bigint").alias("n_within_edges"),
            F.col("sum_d2").cast("bigint").alias("sum_comm_degree_sq"),
            F.expr(
                "CASE WHEN win * m2 - sum_d2 < 0"
                " THEN -CAST((2 * (sum_d2 - win * m2) * 1000000 + m2 * m2)"
                "       DIV (2 * m2 * m2) AS BIGINT) / 1000000.0D + 0.0D"
                " ELSE CAST((2 * (win * m2 - sum_d2) * 1000000 + m2 * m2)"
                "      DIV (2 * m2 * m2) AS BIGINT) / 1000000.0D + 0.0D END"
            ).alias("modularity"),
        )
    )


# --------------------------------------------------------------------------
# Convergence-loop variants (round-5 verdict, Next round #4): the fixed-R
# queries above keep both engines on an identical unroll; these two run the
# DATA-DEPENDENT convergence loop a 100 TB deployment actually wants, and
# stay EXACT-comparable through one theorem: for a DETERMINISTIC iteration
# map, "stop early when the state provably stopped changing (period ≤ p)"
# produces the same canonical output as "always run the full R_cap unroll" —
# extra oracle rounds past convergence are no-ops, and if the data never
# converges within the cap, BOTH sides simply run all R_cap rounds. Either
# way the row sets are equal, so a recursive-CTE-free DuckDB oracle (the
# unrolled recursion) stays EXACT while Spark's round count is decided by
# the data.


def _kcore_full_oracle(k: int = 5, cap: int = 16) -> str:
    body = f"""
    WITH {_CHAIN_EDGES_SQL},
    und AS (
      SELECT u AS s, v AS t FROM edges
      UNION ALL SELECT v AS s, u AS t FROM edges),
    l0 AS (SELECT node, 1 AS a, 0 AS layer FROM deg)
    """
    for r in range(1, cap + 1):
        p = r - 1
        body += f""",
    n{r} AS (
      SELECT und.s AS node, SUM(prev.a) AS alive
      FROM und JOIN l{p} prev ON prev.node = und.t
      GROUP BY und.s),
    l{r} AS MATERIALIZED (
      SELECT l{p}.node,
             CASE WHEN l{p}.a = 1 AND COALESCE(n{r}.alive, 0) >= {k}
                  THEN 1 ELSE 0 END AS a,
             CASE WHEN l{p}.layer > 0 THEN l{p}.layer
                  WHEN l{p}.a = 1 AND COALESCE(n{r}.alive, 0) < {k}
                  THEN {r} ELSE 0 END AS layer
      FROM l{p} LEFT JOIN n{r} ON n{r}.node = l{p}.node)
    """
    body += f"""
    SELECT lay.node AS custkey, CAST(lay.a AS BIGINT) AS in_core,
           CAST(lay.layer AS BIGINT) AS peel_layer
    FROM l{cap} lay
    ORDER BY custkey
    """
    return body


@query("graph_kcore_full", category="graph", oracle=_kcore_full_oracle())
def graph_kcore_full(spark, sf_dir):
    """k-core decomposition run to FIXPOINT (k=5, data-decided round
    count, safety cap 16) — the convergence-loop twin of
    graph_kcore_onion's fixed-3-round unroll, closing the "fixed R
    because oracle" caveat: the peel is MONOTONE (the alive vector only
    ever shrinks pointwise), so "alive count unchanged" IS the fixpoint
    test, one scalar aggregate per round (the operators/graph.py
    convergence-count pattern — state never leaves the cluster). The
    oracle unrolls the identical recursion to the cap: rounds past
    convergence change nothing (a is already fixed), so early-stopped
    Spark output equals the cap-round oracle EXACTLY whether the peel
    converged (measured: 9 rounds at sf0.01, 10 at sf0.1) or not.
    Per-round plan is the kcore_onion peel step (alive-degree as one
    map-side-combinable SUM over the static key-partitioned adjacency);
    the rounds run through caching.iterate, so peak cache stays at two
    |V| states + the edge list.
    At 100 TB nothing changes: round count is set by cascade depth, not
    data volume, and each round is one bounded shuffle."""
    K, CAP = 5, 16
    with pinned_shuffle(spark, _affinity_loop_parts(spark, sf_dir), aqe=False):
        return _kcore_full_loop(spark, sf_dir, K, CAP)


def _kcore_full_loop(spark, sf_dir, K, CAP):
    # key-partitioned persist + shuffle joins in the loop: see
    # _pagerank_converged_loop — every in-loop F.broadcast of a
    # state-derived frame is a driver collect job.
    _deg, seed, step = _peel(spark, sf_dir, "t", K)
    alive = seed.agg(F.sum("a")).collect()[0][0]

    def converged(_prev, cur):  # one collect per round
        nonlocal alive
        n = cur.agg(F.sum("a")).collect()[0][0]
        done, alive = n == alive, n
        return done  # monotone peel: unchanged count == unchanged vector

    _, state, rounds = iterate(seed, step, rounds=CAP, converged=converged)
    graph_kcore_full.last_rounds = rounds  # convergence-invariant test hook
    return state.select(
        F.col("node").alias("custkey"),
        F.col("a").cast("bigint").alias("in_core"),
        F.col("layer").cast("bigint").alias("peel_layer"),
    ).orderBy("custkey")


def _pagerank_converged_oracle(cap: int = 48) -> str:
    body = f"""
    WITH {_CHAIN_EDGES_SQL},
    und AS (
      SELECT u AS s, v AS t FROM edges
      UNION ALL SELECT v AS s, u AS t FROM edges),
    r0 AS (SELECT node, CAST(10000 AS BIGINT) AS r FROM deg)
    """
    for r in range(1, cap + 1):
        p = r - 1
        body += f""",
    s{r} AS (
      SELECT und.s AS node, SUM(prev.r // d.d) AS m
      FROM und
      JOIN r{p} prev ON prev.node = und.t
      JOIN deg d ON d.node = und.t
      GROUP BY und.s),
    r{r} AS MATERIALIZED (
      SELECT deg.node,
             CAST(1500 + (85 * COALESCE(s{r}.m, 0)) // 100 AS BIGINT) AS r
      FROM deg LEFT JOIN s{r} ON s{r}.node = deg.node)
    """
    body += f"""
    SELECT a.node AS custkey, LEAST(a.r, b.r) AS rank_e4
    FROM r{cap} a JOIN r{cap - 1} b ON b.node = a.node
    ORDER BY custkey
    """
    return body


@query(
    "graph_pagerank_converged",
    category="graph",
    oracle=_pagerank_converged_oracle(),
)
def graph_pagerank_converged(spark, sf_dir):
    """PageRank run to CONVERGENCE (data-decided round count, cap 48) in
    an integer-quantized dataflow — the convergence-loop twin of
    graph_pagerank's fixed-3-round unroll. Ranks are carried as BIGINT
    1e4-scale units and the update is the exact integer map
    r' = 1500 + (85 * Σ_in (r_u DIV d_u)) DIV 100 (nonnegative operands,
    so Spark DIV ≡ DuckDB //): a deterministic map on a finite lattice,
    so the orbit must become periodic — measured period ≤ 2 entered at
    round ~31-32 on both sf0.01 and sf0.1 (an exact fixpoint is the
    period-1 case). The loop therefore stops when state(t) == state(t-2)
    (covers periods 1 and 2; one |V|-sized shuffle-join count per
    2-round step), and the CANONICAL output is the elementwise MIN of
    the last two states — invariant under where the orbit is sampled, so the
    early-stopped result equals the oracle's LEAST(r_cap, r_cap-1) over
    the full 48-round unroll EXACTLY; if some dataset never enters a
    short orbit, both sides just run all 48 rounds and remain equal.
    Per-round: contributions via one shuffle join of the |V| rank vector
    against the key-partitioned static adjacency + map-side-combinable
    SUM — the graph_pagerank shape; the rounds run through
    caching.iterate, which releases all but the last two checkpointed
    states in-loop. At 100 TB: round count is contraction-driven (damping
    0.85), independent of |V|; each round is one bounded shuffle."""
    CAP = 48
    with pinned_shuffle(spark, _affinity_loop_parts(spark, sf_dir), aqe=False):
        return _pagerank_converged_loop(spark, sf_dir, CAP)


def _pagerank_converged_loop(spark, sf_dir, CAP):
    edges, _deg0 = _chain_edges(spark, sf_dir)
    # adjacency REPARTITIONED ON THE JOIN KEY once, then persisted: every
    # round's contribution join reuses this partitioning, so only the
    # |V|-sized contrib frame exchanges per round. No F.broadcast inside
    # the loop — each broadcast of a state-derived frame is a DRIVER
    # COLLECT job, and with 4-6 of them per 2-round step the 40-round
    # sf1.0 run spent ~70% of its 72 s on driver round-trips (measured
    # 72 s -> ~25 s after switching to cluster-side shuffle joins).
    und = undirected(edges.toDF("s", "t"), "t").transform(tracked_persist)
    deg = _degrees(und)
    # The out-degree RIDES IN THE STATE (node, d, r): contributions are
    # then a projection of the state (no st⋈deg join) and the fold is one
    # co-keyed left join — each round is ONE shuffle join + ONE groupBy,
    # down from three joins; at ~1 s/round × 40 rounds the saved stages
    # are the dominant term, not the arithmetic.
    state = deg.select(
        "node", "d", F.lit(10000).cast("bigint").alias("r")
    ).transform(tracked_checkpoint)

    def one_round(st):
        contrib = st.select(
            F.col("node").alias("t"), F.expr("r DIV d").alias("c")
        )
        relay = (
            und.join(contrib, "t")
            .groupBy(F.col("s").alias("node"))
            .agg(F.sum("c").alias("m"))
        )
        return st.join(relay, "node", "left").select(
            "node",
            "d",
            F.expr(
                "CAST(1500L + (85L * COALESCE(m, 0L)) DIV 100L AS BIGINT)"
            ).alias("r"),
        )

    def settled(two_back, cur):  # period-<=2 orbit probe (shuffle join)
        return (
            cur.join(two_back.withColumnRenamed("r", "r_old"), "node")
            .where(F.col("r") != F.col("r_old"))
            .count()
        ) == 0

    # Two iteration rounds per checkpoint+probe: the state is referenced
    # once per round, so the intermediate (odd) round stays a LAZY plan of
    # depth 1 on the last checkpoint — never materialized on its own —
    # and the fixed checkpoint/probe cost is paid once per TWO rounds.
    # The probe compares state(t) to state(t-2), exactly the period-<=2
    # test, so probing on even t only delays detection by at most one
    # round and never changes the canonical min-of-last-two output (the
    # final min reads state(t-1) through its lazy one-round plan). CAP is
    # even, so CAP // 2 steps cover the oracle's CAP rounds.
    two_back, cur, steps = iterate(
        state, lambda st, _r: one_round(one_round(st)),
        rounds=CAP // 2, converged=settled,
    )
    graph_pagerank_converged.last_rounds = 2 * steps
    prev = one_round(two_back)  # lazy state(t-1)
    return (
        cur.join(F.broadcast(prev.withColumnRenamed("r", "r_prev")), "node")
        .select(
            F.col("node").alias("custkey"),
            F.least("r", "r_prev").alias("rank_e4"),
        )
        .orderBy("custkey")
    )
