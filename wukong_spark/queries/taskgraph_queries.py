"""Task-graph primitive queries (SURVEY.md §2.2 B-I) exposed through the
driver's queries() contract.

The reference's canonical dataflow demos — tree reduction
(`/root/reference/Static Scheduler/examples/tree_reduction.py:46`,
README.md:180-202), fan-in (`examples/fan_in.py`), linear chains
(`examples/linear_dag.py`) — re-expressed as Spark plans.  Spark's partial
+ final aggregation IS a tree reduction (map-side combine = the pairwise
leaf adds); a depth-controlled `treeAggregate` variant lives in
wukong_spark/taskgraph.py.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from wukong_spark.queries import query
from wukong_spark.queries.helpers import local_frame, cents, tbl
from wukong_spark.session import Checkpoints, checkpoint, register_result_checkpoint


@query(
    "tree_reduction_sum",
    oracle="""
    SELECT CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS total_qty_c,
           COUNT(*) AS n_leaves
    FROM lineitem
    """,
    headline=True,
)
def tree_reduction_sum(spark: SparkSession, sf_dir: str):
    """Tree reduction (pairwise add over all rows → one scalar).

    Wukong builds an explicit binary tree of `operator.add` tasks; Spark's
    hash-agg does the same reduction as partial (per-partition) + final
    combine — log-depth on executor count, zero driver involvement until
    the single result row.
    """
    return tbl(spark, sf_dir, "lineitem").agg(
        F.sum(cents("l_quantity")).alias("total_qty_c"),
        F.count(F.lit(1)).alias("n_leaves"),
    )


@query(
    "fan_in_add",
    oracle="""
    SELECT CAST(
             COALESCE((SELECT SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) FROM orders), 0)
           + COALESCE((SELECT SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) FROM customer), 0)
           AS BIGINT) AS combined_c
    """,
)
def fan_in_add(spark: SparkSession, sf_dir: str):
    """Fan-in (`add_values(x, y)` — README.md:170-176): two independent
    branches computed in parallel, combined at a single downstream node.

    Spark shape: two independent agg subplans cross-joined at 1×1 rows —
    the scheduler runs the branches concurrently, exactly Wukong's fan-in.
    """
    o = tbl(spark, sf_dir, "orders").agg(F.sum(cents("o_totalprice")).alias("a"))
    c = tbl(spark, sf_dir, "customer").agg(F.sum(cents("c_acctbal")).alias("b"))
    return o.crossJoin(c).select((F.col("a") + F.col("b")).alias("combined_c"))


@query(
    "linear_chain_pipeline",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CASE WHEN scaled > 1000 THEN scaled ELSE 0 END) AS BIGINT) AS big_scaled_sum
    FROM (
      SELECT l_orderkey,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) // 10 AS scaled
      FROM lineitem WHERE l_linenumber <= 3
    ) t
    GROUP BY l_orderkey
    """,
)
def linear_chain_pipeline(spark: SparkSession, sf_dir: str):
    """Linear task chain (examples/linear_dag.py): filter → map → map → agg.

    Wukong pipelines the chain onto one Lambda via its DFS path; Catalyst
    fuses the narrow ops into one WholeStageCodegen stage — same pipelining,
    zero intermediate materialization.
    """
    l = tbl(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") <= 3)
    scaled = F.floor(cents("l_extendedprice") / 10).cast("long")
    return (
        l.select("l_orderkey", scaled.alias("scaled"))
        .select(
            "l_orderkey",
            F.when(F.col("scaled") > 1000, F.col("scaled")).otherwise(0).alias("flt"),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("flt").alias("big_scaled_sum"))
    )


@query(
    "graph_connected_components",
    oracle_max_sf=0.01,
    # transitive-closure RECURSIVE CTE (same pattern as the near-dup
    # clusters oracle): component = MIN reachable node id.  The
    # `r.label < b.src` prune is lossless — a relayed label larger than
    # the relay node can never be any node's minimum, because the relay
    # node's own (smaller) label travels the same path
    oracle="""
    WITH RECURSIVE e AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), bi AS MATERIALIZED (
      SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e
    ), reach(node, label) AS (
      SELECT src AS node, src AS label FROM bi
      UNION
      SELECT b.src AS node, r.label FROM bi b JOIN reach r ON r.node = b.dst
      WHERE r.label < b.src
    ), comp AS (
      SELECT node, MIN(label) AS component FROM reach GROUP BY node
    )
    SELECT component, COUNT(*) AS n_nodes FROM comp GROUP BY component
    """,
)
def graph_connected_components(spark: SparkSession, sf_dir: str):
    """Connected components (iterative min-label propagation, driver-
    coordinated loop) on the bipartite customer↔supplier graph induced by
    orders⋈lineitem.

    Output: per-component node counts.  Deterministic (component id = min
    node id); the DuckDB oracle recomputes it as a pruned transitive
    closure, and the union-find oracle lives in tests/test_graph.py.  See
    wukong_spark/operators/graph.py for the per-iteration scale
    discipline.  Oracle scale caveat (r5 audit): the RECURSIVE closure is
    gate-scale-only — at sf0.1 the reachable-pair enumeration explodes in
    DuckDB while the Spark side converges in O(diameter) rounds.
    """
    from wukong_spark.operators.graph import connected_components

    o = tbl(spark, sf_dir, "orders")
    l = tbl(spark, sf_dir, "lineitem")
    edges = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1_000_000).alias("dst"),
        )
        .distinct()
    )
    labels = connected_components(
        edges, iteration_partitions=spark.sparkContext.defaultParallelism
    )
    return labels.groupBy("component").agg(F.count(F.lit(1)).alias("n_nodes"))


@query(
    "graph_pagerank_check",
    # 3 damped power iterations UNROLLED as CTE stages (the
    # rollup-from-hourly pattern applied to graph iteration); round-9
    # doubles: rank values ~6e-4 with cross-engine drift ~1e-18, eight
    # orders below the rounding grid
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), edges AS (
      SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0
    ), deg AS (
      SELECT src, COUNT(*) AS d FROM edges GROUP BY src
    ), nn AS (SELECT COUNT(*) AS n FROM deg),
    r0 AS (SELECT src AS node, 1.0 / (SELECT n FROM nn) AS r FROM deg),
    r1 AS (
      SELECT e.dst AS node,
             0.15 / (SELECT n FROM nn) + 0.85 * SUM(p.r / deg.d) AS r
      FROM edges e JOIN r0 p ON p.node = e.src JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT e.dst AS node,
             0.15 / (SELECT n FROM nn) + 0.85 * SUM(p.r / deg.d) AS r
      FROM edges e JOIN r1 p ON p.node = e.src JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    ),
    r3 AS (
      SELECT e.dst AS node,
             0.15 / (SELECT n FROM nn) + 0.85 * SUM(p.r / deg.d) AS r
      FROM edges e JOIN r2 p ON p.node = e.src JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    )
    SELECT node, ROUND(r, 9) AS rank_9 FROM r3 ORDER BY node
    """,
)
def graph_pagerank_check(spark: SparkSession, sf_dir: str):
    """PageRank (r10) — the second iterative graph algorithm, and unlike
    connected components a FULLY SQL-ORACLED one: 3 damped (d = 0.85)
    power iterations over the undirected customer↔supplier graph, each
    iteration one edges⋈ranks⋈degree join + a dst-grouped sum — the
    contribution-passing shape PageRank takes on any dataflow engine.
    Undirected edges mean every node has out-degree ≥ 1, so no dangling
    -mass correction is needed and the per-node recurrence
    r' = 0.15/N + 0.85·Σ r(u)/deg(u) is exact in both engines.

    100 TB path: per iteration the shuffle carries (node, rank/degree)
    pairs and 16-byte edge keys — never payloads; edges materialize
    once (eager localCheckpoint) instead of re-deriving the orders⋈
    lineitem distinct per iteration, and bucketed edge storage would
    remove the per-iteration edge exchange entirely (the
    bucketed_join_check lever applied to graphs)."""
    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1000000).alias("dst"),
        )
        .distinct()
    )
    # eager checkpoint: materialize edges once instead of replaying the
    # orders⋈lineitem distinct per iteration.  (A checkpointed plan
    # reports unknown partitioning, so each iteration still exchanges
    # the 16-byte edge keys — the deliberate trade vs re-deriving the
    # join; at scale bucketed edge storage removes both costs.)
    edges = register_result_checkpoint(
        checkpoint(
            e0.unionByName(
                e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
        )
    )
    deg = register_result_checkpoint(
        checkpoint(edges.groupBy("src").agg(F.count(F.lit(1)).alias("d")))
    )
    n = deg.count()
    ranks = deg.select(F.col("src").alias("node"), F.lit(1.0 / n).alias("r"))
    for _ in range(3):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .join(deg, "src")
            .select(F.col("dst").alias("node"), (F.col("r") / F.col("d")).alias("c"))
        )
        ranks = contrib.groupBy("node").agg(
            (F.lit(0.15 / n) + F.lit(0.85) * F.sum("c")).alias("r")
        )
    return ranks.select("node", F.round("r", 9).alias("rank_9")).orderBy("node")


@query(
    "graph_pagerank_bucketed_check",
    headline=True,
    # identical oracle to graph_pagerank_check: the bucketed layout may
    # change ONLY the physical plan, never a rank value
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), edges AS (
      SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0
    ), deg AS (
      SELECT src, COUNT(*) AS d FROM edges GROUP BY src
    ), nn AS (SELECT COUNT(*) AS n FROM deg),
    r0 AS (SELECT src AS node, 1.0 / (SELECT n FROM nn) AS r FROM deg),
    r1 AS (
      SELECT e.dst AS node,
             0.15 / (SELECT n FROM nn) + 0.85 * SUM(p.r / deg.d) AS r
      FROM edges e JOIN r0 p ON p.node = e.src JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT e.dst AS node,
             0.15 / (SELECT n FROM nn) + 0.85 * SUM(p.r / deg.d) AS r
      FROM edges e JOIN r1 p ON p.node = e.src JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    ),
    r3 AS (
      SELECT e.dst AS node,
             0.15 / (SELECT n FROM nn) + 0.85 * SUM(p.r / deg.d) AS r
      FROM edges e JOIN r2 p ON p.node = e.src JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    )
    SELECT node, ROUND(r, 9) AS rank_9 FROM r3 ORDER BY node
    """,
)
def graph_pagerank_bucketed_check(spark: SparkSession, sf_dir: str):
    """BUCKETED-EDGE PageRank (r11, VERDICT r10 #2): same 3 damped
    power iterations as graph_pagerank_check, but the adjacency —
    (src, dst, out-degree), degree pre-joined — is written ONCE bucketed
    + sorted by src (`operators/graph.py:pagerank_bucketed`), so every
    iteration's edges⋈ranks join reads the bucketed scan directly with
    NO exchange on the edge side AND no per-iteration degree join
    (plan-pinned in tests/test_plan_shape.py::
    test_pagerank_bucketed_edge_join_no_edge_exchange).  The plain
    variant pays an edge exchange per iteration because localCheckpoint
    drops partitioning metadata; the bucket layout is durable
    partitioning the planner sees across jobs.

    Ranks must be IDENTICAL to the unbucketed entry — the oracle is the
    same unrolled-CTE replay, so a hash-green row proves the layout
    lever changed only the physical plan."""
    from wukong_spark.operators.graph import pagerank_bucketed

    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1000000).alias("dst"),
        )
        .distinct()
    )
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ranks = pagerank_bucketed(edges, iters=3, table="bkt_pr_edges_tmp", buckets=32)
    return ranks.select("node", F.round("r", 9).alias("rank_9")).orderBy("node")


@query(
    "graph_bfs_layers",
    # 4 BFS rounds UNROLLED as CTE stages (the PageRank oracle pattern):
    # d_{k+1}(v) = min(d_k(v), 1 + min over in-neighbors' d_k) — exact
    # integer distances, no float anywhere
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), edges AS (
      SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0
    ),
    d0 AS (SELECT (SELECT MIN(src) FROM edges) AS node, 0 AS dist),
    d1 AS (SELECT node, MIN(dist) AS dist FROM (
      SELECT node, dist FROM d0
      UNION ALL
      SELECT e.dst AS node, d.dist + 1 FROM d0 d JOIN edges e ON e.src = d.node
    ) GROUP BY node),
    d2 AS (SELECT node, MIN(dist) AS dist FROM (
      SELECT node, dist FROM d1
      UNION ALL
      SELECT e.dst AS node, d.dist + 1 FROM d1 d JOIN edges e ON e.src = d.node
    ) GROUP BY node),
    d3 AS (SELECT node, MIN(dist) AS dist FROM (
      SELECT node, dist FROM d2
      UNION ALL
      SELECT e.dst AS node, d.dist + 1 FROM d2 d JOIN edges e ON e.src = d.node
    ) GROUP BY node),
    d4 AS (SELECT node, MIN(dist) AS dist FROM (
      SELECT node, dist FROM d3
      UNION ALL
      SELECT e.dst AS node, d.dist + 1 FROM d3 d JOIN edges e ON e.src = d.node
    ) GROUP BY node)
    SELECT node, CAST(dist AS INTEGER) AS dist FROM d4 ORDER BY node
    """,
)
def graph_bfs_layers(spark: SparkSession, sf_dir: str):
    """BFS SHORTEST HOPS (r11) — the fourth graph analytic, the
    single-source shortest-path primitive (unweighted): 4 relaxation
    rounds from the minimum customer node over the undirected
    customer↔supplier graph, each round one frontier⋈edges join + a
    node-grouped MIN — the label-relaxation shape every distributed SSSP
    takes (Bellman-Ford rounds).  Distances are exact integers, so the
    oracle (4 unrolled CTE stages, the PageRank referee pattern)
    hash-matches with zero float discipline needed.

    Emits every node within 4 hops with its hop count — on the bipartite
    order graph that alternates customer (even) / supplier (odd) layers.

    100 TB path: per round the shuffle carries (node, dist) pairs and
    the edge join keys — linear in edges; labels localCheckpoint per
    round (the CC lineage rule); bucketed edge storage would make the
    edge side exchange-free per round exactly as
    graph_pagerank_bucketed_check demonstrates."""
    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1000000).alias("dst"),
        )
        .distinct()
    )
    with Checkpoints() as ck:
        edges = ck(
            e0.unionByName(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        )
        src_node = edges.agg(F.min("src")).collect()[0][0]
        labels = local_frame(spark, [(int(src_node), 0)], "node long, dist int")
        for _ in range(4):
            nbr = edges.join(labels, edges["src"] == labels["node"]).select(
                F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist")
            )
            new_labels = ck(
                labels.unionByName(nbr)
                .groupBy("node")
                .agg(F.min("dist").cast("int").alias("dist"))
            )
            ck.free(labels)
            labels = new_labels
        # final checkpoint backs the returned plan: harness-released
        return ck.keep(labels).orderBy("node")


@query(
    "graph_cc_bucketed_check",
    oracle_max_sf=0.01,
    # identical oracle to graph_connected_components: the bucketed edge
    # layout may change ONLY the physical plan, never a label
    oracle="""
    WITH RECURSIVE e AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), bi AS MATERIALIZED (
      SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e
    ), reach(node, label) AS (
      SELECT src AS node, src AS label FROM bi
      UNION
      SELECT b.src AS node, r.label FROM bi b JOIN reach r ON r.node = b.dst
      WHERE r.label < b.src
    ), comp AS (
      SELECT node, MIN(label) AS component FROM reach GROUP BY node
    )
    SELECT component, COUNT(*) AS n_nodes FROM comp GROUP BY component
    """,
)
def graph_cc_bucketed_check(spark: SparkSession, sf_dir: str):
    """BUCKETED-EDGE connected components (r12, VERDICT r11 #1): same
    min-label flood fill as graph_connected_components, but the doubled
    edge set is written ONCE bucketed + sorted by the label-lookup
    column (`operators/graph.py:connected_components_bucketed`), so
    every round's edges⋈labels join reads the bucketed scan with NO
    edge-side exchange (plan-pinned in tests/test_plan_shape.py::
    test_cc_bucketed_edge_join_no_edge_exchange).  The plain variant
    re-exchanges the persisted edge set each round because labels'
    partitioning dies at the localCheckpoint.

    This is the triple-leverage lever: the SAME CC engine powers
    near-dup clustering (dedup_neardup_clusters), SemDeDup verdicts
    (dedup_semantic_verdict), and the cross-modal pipeline — at 100 TB
    the per-round candidate-pair exchange is the dominant iteration
    cost the bucket layout removes.

    Labels must be IDENTICAL to the unbucketed entry — the oracle is
    the same recursive-closure replay, so a hash-green row proves the
    layout changed only the physical plan."""
    from wukong_spark.operators.graph import connected_components_bucketed

    o = tbl(spark, sf_dir, "orders")
    l = tbl(spark, sf_dir, "lineitem")
    edges = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1_000_000).alias("dst"),
        )
        .distinct()
    )
    labels = connected_components_bucketed(edges, table="bkt_cc_edges_tmp", buckets=32)
    return labels.groupBy("component").agg(F.count(F.lit(1)).alias("n_nodes"))


@query(
    "graph_pagerank_dangling_check",
    # 2 COMPLETE damped iterations (dangling mass + teleport) unrolled
    # as CTE stages over the DIRECTED customer→supplier graph — every
    # supplier is a sink, so the m/N term is live from round 1.  Same
    # round-9 discipline as the other pagerank entries: ranks ~1e-3,
    # cross-engine drift ≲1e-16 — seven orders below the grid
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), nodes AS (
      SELECT src AS node FROM e0 UNION SELECT dst AS node FROM e0
    ), deg AS (
      SELECT src, COUNT(*) AS d FROM e0 GROUP BY src
    ), nn AS (SELECT COUNT(*) AS n FROM nodes),
    tv AS (SELECT node, 1.0 / (SELECT n FROM nn) AS t FROM nodes),
    r0 AS (SELECT node, t AS r FROM tv),
    m0 AS (
      SELECT COALESCE(SUM(r.r), 0) AS m FROM r0 r
      LEFT JOIN deg d ON d.src = r.node WHERE d.src IS NULL
    ),
    c1 AS (
      SELECT e.dst AS node, SUM(p.r / deg.d) AS c
      FROM e0 e JOIN r0 p ON p.node = e.src JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    ),
    r1 AS (
      SELECT n.node,
             (1.0 - 0.85) * n.t
             + 0.85 * (COALESCE(c1.c, 0)
                       + (SELECT m FROM m0) * n.t) AS r
      FROM tv n LEFT JOIN c1 ON c1.node = n.node
    ),
    m1 AS (
      SELECT COALESCE(SUM(r.r), 0) AS m FROM r1 r
      LEFT JOIN deg d ON d.src = r.node WHERE d.src IS NULL
    ),
    c2 AS (
      SELECT e.dst AS node, SUM(p.r / deg.d) AS c
      FROM e0 e JOIN r1 p ON p.node = e.src JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT n.node,
             (1.0 - 0.85) * n.t
             + 0.85 * (COALESCE(c2.c, 0)
                       + (SELECT m FROM m1) * n.t) AS r
      FROM tv n LEFT JOIN c2 ON c2.node = n.node
    )
    SELECT node, ROUND(r, 9) AS rank_9 FROM r2 ORDER BY node
    """,
)
def graph_pagerank_dangling_check(spark: SparkSession, sf_dir: str):
    """COMPLETE PageRank (r12, VERDICT r11 #3): dangling-mass
    redistribution on a directed graph with real sinks — the customer→
    supplier edges WITHOUT the undirected doubling, so every supplier
    node has out-degree 0 and the m/N teleport term is live.  Two
    damped iterations of

        r'(v) = (1−d)/N + d·(Σ_{u→v} r(u)/deg(u) + m/N),
        m = Σ_{deg(u)=0} r(u)

    via `pagerank_bucketed(handle_dangling=True)`: bucketed edge layout
    (no per-iteration edge exchange), the dangling set precomputed once,
    and per iteration ONE scalar dangling-mass job + a node-list left
    join so sink and source nodes both keep their teleport share.  With
    the correction, Σ r(v) = 1 every iteration (pinned to 1e-9 in
    tests/test_graph.py along with the tol convergence stop — the
    production path the fixed-iteration oracle can't replay)."""
    from wukong_spark.operators.graph import pagerank_bucketed

    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1000000).alias("dst"),
        )
        .distinct()
    )
    ranks = pagerank_bucketed(
        edges, iters=2, table="bkt_pr_dangling_tmp", handle_dangling=True,
        buckets=32,
    )
    return ranks.select("node", F.round("r", 9).alias("rank_9")).orderBy("node")


@query(
    "graph_triangle_count",
    # the graph is CONSTRUCTED BY SQL-EXPRESSIBLE RULES (ring + chord +
    # quadratic edges over Z_97), so both engines build the identical
    # edge set from range() — no seeded-literal dependency
    oracle="""
    WITH raw AS (
      SELECT CAST(x AS BIGINT) % 97 AS a, CAST(x + 1 AS BIGINT) % 97 AS b
      FROM range(0, 97) t(x)
      UNION ALL
      SELECT CAST(x AS BIGINT) % 97, CAST(x + 2 AS BIGINT) % 97
      FROM range(0, 97) t(x)
      UNION ALL
      SELECT CAST(x AS BIGINT) % 97, CAST(x * x AS BIGINT) % 97
      FROM range(0, 97) t(x)
    ),
    e AS (SELECT DISTINCT LEAST(a, b) AS a, GREATEST(a, b) AS b
          FROM raw WHERE a <> b)
    SELECT (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT COUNT(*) FROM e e1
              JOIN e e2 ON e2.a = e1.b
              JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str):
    """TRIANGLE COUNTING (r10) — the third graph analytic, the
    clustering-coefficient / community-detection primitive: store each
    undirected edge once in canonical (a < b) order, then count paths
    a→b→c that close with edge (a, c) — two equi-joins, and the
    canonical ordering means every triangle is counted EXACTLY once
    (a < b < c).  The graph is built from arithmetic rules over Z_97
    (ring + chord + quadratic residue edges) that both engines derive
    from range(), so the oracle replays construction AND counting.

    100 TB path: this is the standard distributed triangle join —
    edges shuffle on the join keys, and at web scale the e1⋈e2 path
    join keys on the LOW-DEGREE endpoint first (degree-ordered
    orientation) to bound intermediate size."""
    n = 97
    base = spark.range(0, n)
    raw = (
        base.select((F.col("id") % n).alias("a"), ((F.col("id") + 1) % n).alias("b"))
        .unionByName(
            base.select(
                (F.col("id") % n).alias("a"), ((F.col("id") + 2) % n).alias("b")
            )
        )
        .unionByName(
            base.select(
                (F.col("id") % n).alias("a"),
                ((F.col("id") * F.col("id")) % n).alias("b"),
            )
        )
    )
    with Checkpoints() as ck:
        e = ck(
            raw.filter(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
            .distinct()
        )
        e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
        e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
        e3 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
        tri = e1.join(e2, "y").join(e3, ["x", "z"]).count()
        n_edges = e.count()
    return local_frame(spark,
        [(n_edges, tri)], "n_edges bigint, n_triangles bigint"
    )


@query(
    "graph_ppr_check",
    # 2 personalized iterations unrolled: the teleport vector is uniform
    # over the seed set (customers with custkey % 10 = 0), zero elsewhere;
    # dangling mass also returns to the seeds, so mass stays 1
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), nodes AS (
      SELECT src AS node FROM e0 UNION SELECT dst AS node FROM e0
    ), deg AS (
      SELECT src, COUNT(*) AS d FROM e0 GROUP BY src
    ), sd AS (
      SELECT DISTINCT src AS node FROM e0 WHERE src % 10 = 0
    ), ns AS (SELECT COUNT(*) AS n FROM sd),
    tv AS (
      SELECT n.node,
             CASE WHEN s.node IS NULL THEN 0.0
                  ELSE 1.0 / (SELECT n FROM ns) END AS t
      FROM nodes n LEFT JOIN sd s ON s.node = n.node
    ),
    r0 AS (SELECT node, t AS r FROM tv),
    m0 AS (
      SELECT COALESCE(SUM(r.r), 0) AS m FROM r0 r
      LEFT JOIN deg d ON d.src = r.node WHERE d.src IS NULL
    ),
    c1 AS (
      SELECT e.dst AS node, SUM(p.r / deg.d) AS c
      FROM e0 e JOIN r0 p ON p.node = e.src JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    ),
    r1 AS (
      SELECT n.node,
             (1.0 - 0.85) * n.t
             + 0.85 * (COALESCE(c1.c, 0)
                       + (SELECT m FROM m0) * n.t) AS r
      FROM tv n LEFT JOIN c1 ON c1.node = n.node
    ),
    m1 AS (
      SELECT COALESCE(SUM(r.r), 0) AS m FROM r1 r
      LEFT JOIN deg d ON d.src = r.node WHERE d.src IS NULL
    ),
    c2 AS (
      SELECT e.dst AS node, SUM(p.r / deg.d) AS c
      FROM e0 e JOIN r1 p ON p.node = e.src JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT n.node,
             (1.0 - 0.85) * n.t
             + 0.85 * (COALESCE(c2.c, 0)
                       + (SELECT m FROM m1) * n.t) AS r
      FROM tv n LEFT JOIN c2 ON c2.node = n.node
    )
    SELECT node, ROUND(r, 9) AS rank_9 FROM r2
    WHERE ROUND(r, 9) <> 0 ORDER BY node
    """,
)
def graph_ppr_check(spark: SparkSession, sf_dir: str):
    """PERSONALIZED PageRank (r12) — the random surfer restarts at a
    SEED SET (every-10th customer) instead of uniformly: the
    recommendation/relatedness primitive (rank suppliers by proximity
    to a customer cohort).  `pagerank_bucketed(seeds=...)`: the same
    bucketed edge layout (no per-iteration edge exchange), the teleport
    vector s(v) uniform over seeds and 0 elsewhere, dangling mass
    returning to the seeds — Σ r = 1 every iteration.

    The oracle unrolls 2 complete personalized iterations in SQL
    (identical (1.0−0.85)·t + 0.85·(c + m·t) expression text, the same
    round-9 discipline as the other pagerank entries); nodes whose
    round-9 rank is 0 (unreachable within 2 hops of the seeds) are
    filtered on the ROUNDED value in both engines, so the emitted row
    set can't straddle an fp boundary."""
    from wukong_spark.operators.graph import pagerank_bucketed

    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1000000).alias("dst"),
        )
        .distinct()
    )
    seed_nodes = edges.select(F.col("src").alias("node")).filter(
        F.col("node") % 10 == 0
    ).distinct()
    n_seeds = seed_nodes.count()
    seeds = seed_nodes.select("node", F.lit(1.0 / n_seeds).alias("s"))
    ranks = pagerank_bucketed(
        edges,
        iters=2,
        table="bkt_ppr_tmp",
        handle_dangling=True,
        seeds=seeds,
        buckets=32,
    )
    return (
        ranks.select("node", F.round("r", 9).alias("rank_9"))
        .filter(F.col("rank_9") != 0)
        .orderBy("node")
    )


@query(
    "graph_sssp_weighted",
    # 4 Bellman-Ford rounds UNROLLED with integer edge weights — exact
    # integer distances, no float anywhere (the BFS oracle with +w)
    oracle="""
    WITH e0 AS (
      SELECT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst,
             MIN(CAST(ROUND(l.l_quantity) AS BIGINT)) AS w
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_custkey, l.l_suppkey
    ), edges AS (
      SELECT src, dst, w FROM e0
      UNION ALL SELECT dst AS src, src AS dst, w FROM e0
    ),
    d0 AS (SELECT (SELECT MIN(src) FROM edges) AS node, CAST(0 AS BIGINT) AS dist),
    d1 AS (SELECT node, MIN(dist) AS dist FROM (
      SELECT node, dist FROM d0
      UNION ALL
      SELECT e.dst AS node, d.dist + e.w FROM d0 d JOIN edges e ON e.src = d.node
    ) GROUP BY node),
    d2 AS (SELECT node, MIN(dist) AS dist FROM (
      SELECT node, dist FROM d1
      UNION ALL
      SELECT e.dst AS node, d.dist + e.w FROM d1 d JOIN edges e ON e.src = d.node
    ) GROUP BY node),
    d3 AS (SELECT node, MIN(dist) AS dist FROM (
      SELECT node, dist FROM d2
      UNION ALL
      SELECT e.dst AS node, d.dist + e.w FROM d2 d JOIN edges e ON e.src = d.node
    ) GROUP BY node),
    d4 AS (SELECT node, MIN(dist) AS dist FROM (
      SELECT node, dist FROM d3
      UNION ALL
      SELECT e.dst AS node, d.dist + e.w FROM d3 d JOIN edges e ON e.src = d.node
    ) GROUP BY node)
    SELECT node, dist FROM d4 ORDER BY node
    """,
)
def graph_sssp_weighted(spark: SparkSession, sf_dir: str):
    """WEIGHTED single-source shortest paths (r12) — `graph_bfs_layers`'
    relaxation with integer edge weights (the cheapest quantity ever
    shipped on the customer↔supplier edge): 4 Bellman-Ford rounds of
    d'(v) = min(d(v), min over in-edges (d(u) + w(u,v))) from the
    minimum customer node.  After k rounds distances are exact for every
    path of ≤ k edges — the standard distributed SSSP contract (rounds =
    hop radius; Dijkstra's priority queue doesn't distribute, Bellman-
    Ford relaxation does).

    Weights are exact BIGINTs (min rounded quantity per edge), so the
    oracle — 4 unrolled CTE stages with +w — hash-matches with zero
    float discipline.  100 TB path: per round the shuffle carries
    (node, dist) pairs; weights ride the edge set, which a bucketed
    layout would pin exchange-free exactly as the pagerank/CC bucketed
    entries demonstrate."""
    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = tbl(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    e0 = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1000000).alias("dst"),
        )
        .agg(F.min(F.round("l_quantity").cast("long")).alias("w"))
    )
    with Checkpoints() as ck:
        edges = ck(
            e0.unionByName(
                e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
            )
        )
        src_node = edges.agg(F.min("src")).collect()[0][0]
        labels = local_frame(spark, [(int(src_node), 0)], "node long, dist long")
        for _ in range(4):
            nbr = edges.join(labels, edges["src"] == labels["node"]).select(
                F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
            )
            new_labels = ck(
                labels.unionByName(nbr).groupBy("node").agg(F.min("dist").alias("dist"))
            )
            ck.free(labels)
            labels = new_labels
        # final checkpoint backs the returned plan: harness-released
        return ck.keep(labels).orderBy("node")


@query(
    "graph_power_iteration_check",
    # 4 matvecs x' = A·x from x0 = 1 over the doubled edge set: the
    # iterates are WALK COUNTS — pure integers, zero float — and the
    # Rayleigh quotient (x3·x4)/(x3·x3) estimating the dominant
    # eigenvalue is one double division on two exact BIGINT dot products
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), edges AS (
      SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
    ), nodes AS (
      SELECT DISTINCT src AS node FROM edges
    ),
    x0 AS (SELECT node, CAST(1 AS BIGINT) AS x FROM nodes),
    x1 AS (SELECT e.dst AS node, CAST(SUM(p.x) AS BIGINT) AS x
           FROM edges e JOIN x0 p ON p.node = e.src GROUP BY e.dst),
    x2 AS (SELECT e.dst AS node, CAST(SUM(p.x) AS BIGINT) AS x
           FROM edges e JOIN x1 p ON p.node = e.src GROUP BY e.dst),
    x3 AS (SELECT e.dst AS node, CAST(SUM(p.x) AS BIGINT) AS x
           FROM edges e JOIN x2 p ON p.node = e.src GROUP BY e.dst),
    x4 AS (SELECT e.dst AS node, CAST(SUM(p.x) AS BIGINT) AS x
           FROM edges e JOIN x3 p ON p.node = e.src GROUP BY e.dst),
    ray AS (
      SELECT SUM(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS num,
             SUM(CAST(a.x AS DOUBLE) * CAST(a.x AS DOUBLE)) AS den
      FROM x3 a JOIN x4 b ON b.node = a.node
    )
    SELECT x4.node, x4.x AS walks_4,
           (SELECT ROUND(num / den, 6) FROM ray) AS lambda_6
    FROM x4 ORDER BY x4.node
    """,
)
def graph_power_iteration_check(spark: SparkSession, sf_dir: str):
    """POWER ITERATION on the graph adjacency (r12) — dominant-eigenvalue
    estimation, the iterative-matvec primitive under spectral methods
    (PageRank is its damped cousin; spectral clustering and eigenvector
    centrality are direct users): x_{k+1} = A·x_k from x0 = 1 over the
    doubled customer↔supplier edge set.  Unnormalized iterates are
    length-k WALK COUNTS — exact integers (≤ ~maxdeg⁴, far inside
    BIGINT), so the four matvecs replay in SQL with zero float
    discipline; the dominant-eigenvalue estimate is the Rayleigh
    quotient x₃ᵀx₄ / x₃ᵀx₃ with the dot products accumulated in DOUBLE
    — the int64 products overflow at sf0.1 while DuckDB silently
    promotes SUM to 128-bit, a cross-engine trap — and λ ≈ 9 rounds at
    1e-6 against ~1e-14 sum-order drift.

    Per matvec: one edges⋈x join + a dst-grouped SUM — the same (node,
    value) pair shuffle as every iterative graph entry here; at 100 TB
    the bucketed-edge layout (`pagerank_bucketed`) removes the edge-side
    exchange identically."""
    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1000000).alias("dst"),
        )
        .distinct()
    )
    with Checkpoints() as ck:
        edges = ck(
            e0.unionByName(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        )
        x = ck(
            edges.select(F.col("src").alias("node"))
            .distinct()
            .select("node", F.lit(1).cast("long").alias("x"))
        )
        prev = None
        for _ in range(4):
            nxt = ck(
                edges.join(x, edges["src"] == x["node"])
                .groupBy(F.col("dst").alias("n2"))
                .agg(F.sum("x").alias("x"))
                .selectExpr("n2 AS node", "x")
            )
            ck.free(prev)
            prev, x = x, nxt
        rr = (
            prev.alias("a")
            .join(x.alias("b"), F.col("b.node") == F.col("a.node"))
            .agg(
                F.sum(
                    F.col("a.x").cast("double") * F.col("b.x").cast("double")
                ).alias("num"),
                F.sum(
                    F.col("a.x").cast("double") * F.col("a.x").cast("double")
                ).alias("den"),
            )
            .collect()[0]
        )
        # two scalars to the driver; the final iterate (which backs the
        # returned plan) is registered for the harness, the scope frees the rest
        return ck.keep(x).select(
            "node",
            F.col("x").alias("walks_4"),
            F.round(F.lit(rr["num"]) / F.lit(rr["den"]), 6).alias("lambda_6"),
        ).orderBy("node")


@query(
    "graph_link_prediction",
    # common-neighbor / Jaccard scores over 2-hop candidate pairs: cn and
    # the degrees are exact integers; the Jaccard is ONE double division
    # on exact ints with char-identical formula text in both engines
    oracle="""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_custkey % 50 = 0
    ), deg AS (
      SELECT c, COUNT(*) AS d FROM e GROUP BY c
    ), pairs AS (
      SELECT a.c AS cust_a, b.c AS cust_b, COUNT(*) AS cn
      FROM e a JOIN e b ON a.s = b.s AND a.c < b.c
      GROUP BY a.c, b.c
    )
    SELECT p.cust_a, p.cust_b, CAST(p.cn AS BIGINT) AS cn,
           CAST(da.d AS BIGINT) AS deg_a, CAST(db.d AS BIGINT) AS deg_b,
           ROUND(CAST(cn AS DOUBLE) / CAST(da.d + db.d - cn AS DOUBLE), 6)
             AS jaccard_6
    FROM pairs p
    JOIN deg da ON da.c = p.cust_a
    JOIN deg db ON db.c = p.cust_b
    WHERE p.cn >= 2
    ORDER BY p.cust_a, p.cust_b
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str):
    """LINK PREDICTION by common-neighbor counting (r13) — the classic
    similarity primitive under "customers also bought" / collaborative
    candidate generation: for customer pairs sharing at least one
    supplier in the bipartite customer↔supplier purchase graph, score
    the pair by common-neighbor count and neighborhood Jaccard
    |Γa∩Γb| / |Γa∪Γb|.

    Candidate generation is the textbook 2-hop self-join THROUGH the
    relay node (never all-pairs): pairs = e ⋈ e on the shared supplier
    with a < b, so only co-neighbors ever meet — via
    `operators.graph.link_prediction_candidates` (r17), whose
    `max_relay_degree` lever IS the production answer to hub relays: a
    hub supplier with degree D contributes O(D²) pairs, so relays above
    the cap are dropped pre-join and surfaced as evidence (the
    MinHash-LSH banding argument applied to graphs; O(D²) bound pinned
    on a star graph in tests/test_graph.py).  The check samples the
    customer side deterministically (custkey % 50) to bound the output
    and passes a cap far above the fixture's max relay degree, so the
    capped operator provably returns the EXACT result here.  Every
    shuffle keys on supplier or the (a,b) pair; degrees broadcast-join
    back onto the pair list.  cn ≥ 2 keeps only multi-witness pairs
    (rank-stable under regeneration)."""
    from wukong_spark.operators.graph import link_prediction_candidates

    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e = (
        o.filter(F.col("o_custkey") % 50 == 0)
        .join(l, o.o_orderkey == l.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    deg = e.groupBy("c").agg(F.count(F.lit(1)).alias("d"))
    # cap far above any supplier's sampled-customer degree (≤ #customers
    # sampled); exactness under a non-binding cap is the operator test's
    # contract, and the entry's hash oracle would catch a binding one
    pairs, _dropped = link_prediction_candidates(
        e, node_col="c", relay_col="s", min_cn=2, max_relay_degree=10**9
    )
    pairs = pairs.select(
        F.col("a").alias("cust_a"), F.col("b").alias("cust_b"), "cn"
    )
    da = deg.select(F.col("c").alias("cust_a"), F.col("d").alias("da"))
    db = deg.select(F.col("c").alias("cust_b"), F.col("d").alias("db"))
    return (
        pairs.join(F.broadcast(da), "cust_a")
        .join(F.broadcast(db), "cust_b")
        .selectExpr(
            "cust_a",
            "cust_b",
            "CAST(cn AS BIGINT) AS cn",
            "CAST(da AS BIGINT) AS deg_a",
            "CAST(db AS BIGINT) AS deg_b",
            "ROUND(CAST(cn AS DOUBLE) / CAST(da + db - cn AS DOUBLE), 6)"
            " AS jaccard_6",
        )
        .orderBy("cust_a", "cust_b")
    )


@query(
    "graph_kcore_decomposition",
    # the 6-round nested-CTE peel replay OOMs DuckDB at sf0.1 (referee
    # resource limit, not a Spark-side issue; r15 sweep) — bound it to
    # the gate sf like the RECURSIVE-closure family
    oracle_max_sf=0.01,
    # fixed 6-round peel replay: the cascade stabilizes in <=3 rounds at
    # every shipped SF (bipartite graph, 2-hop cascade), so s6 IS the
    # converged core and equals the operator's convergence-stopped
    # result (pinned in tests/test_graph.py); degrees are exact ints
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), ed AS (
      SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
    ),
    s0 AS (SELECT DISTINCT src AS node FROM ed),
    s1 AS (SELECT e.src AS node FROM ed e
           JOIN s0 a ON a.node = e.src JOIN s0 b ON b.node = e.dst
           GROUP BY e.src HAVING COUNT(*) >= 25),
    s2 AS (SELECT e.src AS node FROM ed e
           JOIN s1 a ON a.node = e.src JOIN s1 b ON b.node = e.dst
           GROUP BY e.src HAVING COUNT(*) >= 25),
    s3 AS (SELECT e.src AS node FROM ed e
           JOIN s2 a ON a.node = e.src JOIN s2 b ON b.node = e.dst
           GROUP BY e.src HAVING COUNT(*) >= 25),
    s4 AS (SELECT e.src AS node FROM ed e
           JOIN s3 a ON a.node = e.src JOIN s3 b ON b.node = e.dst
           GROUP BY e.src HAVING COUNT(*) >= 25),
    s5 AS (SELECT e.src AS node FROM ed e
           JOIN s4 a ON a.node = e.src JOIN s4 b ON b.node = e.dst
           GROUP BY e.src HAVING COUNT(*) >= 25),
    s6 AS (SELECT e.src AS node FROM ed e
           JOIN s5 a ON a.node = e.src JOIN s5 b ON b.node = e.dst
           GROUP BY e.src HAVING COUNT(*) >= 25)
    SELECT e.src AS node, CAST(COUNT(*) AS BIGINT) AS deg_in_core
    FROM ed e
    JOIN s6 a ON a.node = e.src JOIN s6 b ON b.node = e.dst
    GROUP BY e.src ORDER BY node
    """,
)
def graph_kcore_decomposition(spark: SparkSession, sf_dir: str):
    """k-CORE DECOMPOSITION (r13) — iterative peeling to the maximal
    subgraph where every node keeps >= k neighbors (k=25 on the doubled
    customer↔supplier purchase graph), returning each survivor's degree
    WITHIN the core.  The graph-densification primitive under community
    detection, spam-farm discovery, and engagement cohorting.

    The Spark side runs `operators.graph.kcore` — the CONVERGENCE-
    stopped loop (survivor count unchanged -> stop, RuntimeError past
    max_iter).  The oracle replays a FIXED 6 peel rounds in nested CTEs:
    the bipartite cascade stabilizes in <= 3 rounds at every shipped SF
    (customers peel, supplier degrees drop, one echo round), so the
    fixed replay and the converged run coincide with 2x margin — the
    power-iteration fixed-replay pattern for loops SQL can't express.

    100 TB path: per round only (node) survivor rows move — the edge
    set is persisted and joined in place (or laid out bucketed once,
    the connected_components_bucketed lever, when cascades are deep);
    both joins and the degree agg key on node."""
    from wukong_spark.operators.graph import kcore

    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1000000).alias("dst"),
        )
        .distinct()
    )
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return kcore(
        edges, k=25, iteration_partitions=spark.sparkContext.defaultParallelism
    ).orderBy("node")


@query(
    "graph_kcore_bucketed_check",
    # identical oracle to graph_kcore_decomposition: the bucketed layout
    # and the one-join peel may change ONLY the physical plan, never a
    # survivor or a degree
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), ed AS (
      SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
    ),
    s0 AS (SELECT DISTINCT src AS node FROM ed),
    s1 AS (SELECT e.src AS node FROM ed e
           JOIN s0 a ON a.node = e.src JOIN s0 b ON b.node = e.dst
           GROUP BY e.src HAVING COUNT(*) >= 25),
    s2 AS (SELECT e.src AS node FROM ed e
           JOIN s1 a ON a.node = e.src JOIN s1 b ON b.node = e.dst
           GROUP BY e.src HAVING COUNT(*) >= 25),
    s3 AS (SELECT e.src AS node FROM ed e
           JOIN s2 a ON a.node = e.src JOIN s2 b ON b.node = e.dst
           GROUP BY e.src HAVING COUNT(*) >= 25),
    s4 AS (SELECT e.src AS node FROM ed e
           JOIN s3 a ON a.node = e.src JOIN s3 b ON b.node = e.dst
           GROUP BY e.src HAVING COUNT(*) >= 25),
    s5 AS (SELECT e.src AS node FROM ed e
           JOIN s4 a ON a.node = e.src JOIN s4 b ON b.node = e.dst
           GROUP BY e.src HAVING COUNT(*) >= 25),
    s6 AS (SELECT e.src AS node FROM ed e
           JOIN s5 a ON a.node = e.src JOIN s5 b ON b.node = e.dst
           GROUP BY e.src HAVING COUNT(*) >= 25)
    SELECT e.src AS node, CAST(COUNT(*) AS BIGINT) AS deg_in_core
    FROM ed e
    JOIN s6 a ON a.node = e.src JOIN s6 b ON b.node = e.dst
    GROUP BY e.src ORDER BY node
    """,
)
def graph_kcore_bucketed_check(spark: SparkSession, sf_dir: str):
    """BUCKETED-EDGE k-CORE (r14, VERDICT r13 stretch): same converged
    peel as graph_kcore_decomposition, but the doubled edge set is
    written ONCE bucketed + sorted by b, and each round is ONE
    edges⋈survivors join on the bucketed column — the a-side survivor
    filter is provably redundant under monotone shrinkage (a peeled
    node's degree-into-survivors can only fall, so `deg >= k`
    re-excludes it), which is what lets a single-column layout serve
    both endpoint constraints.  NO edge-side exchange per round
    (plan-pinned in tests/test_plan_shape.py); results must hash
    IDENTICAL to the plain entry — same oracle, same rows.

    100 TB path: the edge set never moves after the one layout write;
    per round only survivor (node) rows and map-side-combined (a, deg)
    partials shuffle — the deep-cascade form of the kcore COVERAGE
    row's documented lever."""
    from wukong_spark.operators.graph import kcore_bucketed

    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1000000).alias("dst"),
        )
        .distinct()
    )
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return kcore_bucketed(edges, k=25).orderBy("node")


@query(
    "graph_hits_check",
    # 2 full HITS alternations (a=Σh over in-edges, h=Σa over out-edges)
    # from h0=1 on the DIRECTED bipartite graph — unnormalized iterates
    # are integer path counts (the power-iteration discipline), so the
    # SQL replay is exact; the conventional unit-normalization is a
    # single scalar division done at read time, not stored
    oracle="""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    h0 AS (SELECT DISTINCT src AS node, CAST(1 AS BIGINT) AS h FROM e),
    a1 AS (SELECT e.dst AS node, CAST(SUM(h0.h) AS BIGINT) AS a
           FROM e JOIN h0 ON h0.node = e.src GROUP BY e.dst),
    h1 AS (SELECT e.src AS node, CAST(SUM(a1.a) AS BIGINT) AS h
           FROM e JOIN a1 ON a1.node = e.dst GROUP BY e.src),
    a2 AS (SELECT e.dst AS node, CAST(SUM(h1.h) AS BIGINT) AS a
           FROM e JOIN h1 ON h1.node = e.src GROUP BY e.dst),
    h2 AS (SELECT e.src AS node, CAST(SUM(a2.a) AS BIGINT) AS h
           FROM e JOIN a2 ON a2.node = e.dst GROUP BY e.src)
    SELECT h2.node, h2.h AS hub_2, CAST(NULL AS BIGINT) AS auth_2 FROM h2
    UNION ALL
    SELECT a2.node, CAST(NULL AS BIGINT) AS hub_2, a2.a AS auth_2 FROM a2
    ORDER BY node, hub_2 NULLS FIRST
    """,
)
def graph_hits_check(spark: SparkSession, sf_dir: str):
    """HITS HUBS & AUTHORITIES (r13) — Kleinberg's link-analysis pair on
    the DIRECTED customer→supplier purchase graph: authorities are
    suppliers many strong buyers use, hubs are customers who buy from
    many strong suppliers; two full alternations (a ← Σ h over
    in-edges, h ← Σ a over out-edges) from h0 = 1.  Unnormalized
    iterates are exact integer PATH COUNTS (the power-iteration
    fixed-replay discipline — graph_power_iteration_check), so both
    engines agree bit-for-bit with no float anywhere; production
    normalizes by one scalar at read time.

    Plan: each half-step is one edges⋈scores join + a keyed SUM —
    identical shuffle shape to PageRank's matvec, so the bucketed-edge
    layout (pagerank_bucketed) is the same 100 TB lever: the edge set
    never moves again after one layout write; only (node, score) pairs
    shuffle per half-step."""
    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    with Checkpoints() as ck:
        e = ck(
            o.join(l, o.o_orderkey == l.l_orderkey)
            .select(
                F.col("o_custkey").alias("src"),
                (F.col("l_suppkey") + 1000000).alias("dst"),
            )
            .distinct()
        )
        h = e.select(F.col("src").alias("node")).distinct().select(
            "node", F.lit(1).cast("long").alias("s")
        )
        # free each intermediate checkpoint once its successor is
        # materialized (ADVICE r13: this loop leaked every half-step's RDD);
        # the FINAL a/h back the returned plan and must stay resident
        prev_a = prev_h = None
        for _ in range(2):
            a = ck(
                e.join(h, e["src"] == h["node"])
                .groupBy(F.col("dst").alias("n2"))
                .agg(F.sum("s").cast("long").alias("s2"))
                .select(F.col("n2").alias("node"), F.col("s2").alias("s"))
            )
            ck.free(prev_h)  # h fed a; a is materialized
            h = ck(
                e.join(a, e["dst"] == a["node"])
                .groupBy(F.col("src").alias("n2"))
                .agg(F.sum("s").cast("long").alias("s2"))
                .select(F.col("n2").alias("node"), F.col("s2").alias("s"))
            )
            ck.free(prev_a)
            prev_a, prev_h = a, h

        # both final iterates back the returned plan: harness-released
        hubs = ck.keep(h).select(
            "node", F.col("s").alias("hub_2"), F.lit(None).cast("long").alias("auth_2")
        )
        auths = ck.keep(a).select(
            "node", F.lit(None).cast("long").alias("hub_2"), F.col("s").alias("auth_2")
        )
        return hubs.unionByName(auths).orderBy("node", F.col("hub_2").asc_nulls_first())


@query(
    "graph_hits_converged",
    # The convergence-stopped iteration count is data-dependent, which
    # unrolled CTEs cannot express — so the entry emits what the
    # ml_logreg_check family emits (VERDICT r14 item 1): a convergence
    # CERTIFICATE verified by an independent second pass (one more full
    # alternation recomputed from the returned scores must move them by
    # < 10·tol in L1; both score vectors must be unit-L1), plus the gate
    # graph's cardinalities, which DuckDB recomputes from the parquet.
    # The iteration ARITHMETIC is hash-oracled by graph_hits_check (2
    # integer alternations); the converged VALUES are numpy-pinned on
    # this same graph in tests/test_graph.py.
    oracle="""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    )
    SELECT TRUE AS residual_below_tol,
           TRUE AS hub_l1_one,
           TRUE AS auth_l1_one,
           (SELECT COUNT(DISTINCT src) FROM e)
             + (SELECT COUNT(DISTINCT dst) FROM e) AS n_nodes,
           (SELECT COUNT(DISTINCT src) FROM e) AS n_hub_nodes,
           (SELECT COUNT(DISTINCT dst) FROM e) AS n_auth_nodes
    """,
)
def graph_hits_converged(spark: SparkSession, sf_dir: str):
    """HITS, PRODUCTION FORM (r14, VERDICT r13 missing #2):
    `operators.graph.hits` — L1-normalized alternating power iteration
    with an L1 convergence stop (tol) and a RuntimeError past max_iter,
    run on the directed customer→supplier purchase graph.
    `graph_hits_check` stays the fixed-replay integer oracle of the same
    recurrence; this entry exercises the convergence machinery and
    CERTIFIES it in-plan (VERDICT r14 item 1, the ml_logreg_check
    pattern):

    - residual_below_tol: recompute ONE more full alternation
      (a' = L1-normalize(Aᵀh), h' = L1-normalize(Aa')) from the
      returned scores with fresh joins/aggregations — not the solver's
      own accumulators — and require Σ|h'−h| + Σ|a'−a| < 10·tol;
    - hub_l1_one / auth_l1_one: |Σ score − 1| < 1e-9 per vector;
    - n_nodes / n_hub_nodes / n_auth_nodes: the graph's cardinalities,
      recomputed by the DuckDB oracle from the same parquet.

    Plan per iteration: two edges⋈scores joins + keyed SUMs, scalar
    normalization and delta aggs — only (node, score) pairs shuffle; the
    edge set is persisted in place, and each iterate's checkpoint is
    released as soon as its successor materializes.  The certificate
    pass reuses the persisted edge set; only five scalars reach the
    driver."""
    from wukong_spark.operators.graph import hits

    tol = 1e-7
    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    with Checkpoints() as ck:
        e = ck(
            o.join(l, o.o_orderkey == l.l_orderkey)
            .select(
                F.col("o_custkey").alias("src"),
                (F.col("l_suppkey") + 1000000).alias("dst"),
            )
            .distinct()
        )
        res = ck(
            hits(
                e, tol=tol, max_iter=100,
                iteration_partitions=spark.sparkContext.defaultParallelism,
            )
        )

        # independent pass: one more alternation from the returned scores
        a_raw = (
            e.join(res.select(F.col("node").alias("src"), "hub"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("ar"))
        )
        a_sum = a_raw.agg(F.sum("ar")).collect()[0][0]
        a_new = a_raw.select("node", (F.col("ar") / F.lit(a_sum)).alias("a2"))
        h_raw = (
            e.join(a_new.select(F.col("node").alias("dst"), "a2"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("a2").alias("hr"))
        )
        h_sum = h_raw.agg(F.sum("hr")).collect()[0][0]
        h_new = h_raw.select("node", (F.col("hr") / F.lit(h_sum)).alias("h2"))

        cert = (
            res.join(a_new, "node", "full")
            .join(h_new, "node", "full")
            .agg(
                F.sum(
                    F.abs(
                        F.coalesce("h2", F.lit(0.0)) - F.coalesce("hub", F.lit(0.0))
                    )
                    + F.abs(
                        F.coalesce("a2", F.lit(0.0))
                        - F.coalesce("authority", F.lit(0.0))
                    )
                ).alias("resid"),
                F.sum("hub").alias("sh"),
                F.sum("authority").alias("sa"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()[0]
        )
        n_src, n_dst = (
            e.agg(
                F.countDistinct("src").alias("s"), F.countDistinct("dst").alias("d")
            ).collect()[0]
        )
    return local_frame(spark,
        [
            (
                bool(cert["resid"] < 10 * tol),
                bool(abs(cert["sh"] - 1.0) < 1e-9),
                bool(abs(cert["sa"] - 1.0) < 1e-9),
                int(cert["n"]),
                int(n_src),
                int(n_dst),
            )
        ],
        "residual_below_tol boolean, hub_l1_one boolean, auth_l1_one boolean,"
        " n_nodes long, n_hub_nodes long, n_auth_nodes long",
    )


@query(
    "graph_transitivity_check",
    # the referee rebuilds the co-supplier graph and the a<b<c
    # three-way join declaratively; wedges from the degree sum;
    # clustering = one double division rounded 4dp in both engines
    oracle="""
    WITH e AS (
      SELECT DISTINCT
        LEAST(l1.l_suppkey, l2.l_suppkey) AS a,
        GREATEST(l1.l_suppkey, l2.l_suppkey) AS b
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
    ),
    deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e
      ) GROUP BY v
    ),
    tri AS (
      SELECT COUNT(*) AS t
      FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3
        ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT
      (SELECT COUNT(*) FROM deg) AS n_nodes,
      (SELECT COUNT(*) FROM e) AS n_edges,
      (SELECT t FROM tri) AS n_triangles,
      ROUND(3.0 * (SELECT t FROM tri)
            / (SELECT SUM(d * (d - 1) / 2) FROM deg), 4) AS clustering_4
    """,
)
def graph_transitivity_check(spark: SparkSession, sf_dir: str):
    """GLOBAL TRANSITIVITY over a REAL fixture graph (r17) — companion
    to `graph_triangle_count` (which counts on a rule-constructed Z_97
    graph): clustering coefficient = 3·triangles / wedges over the
    CO-SUPPLIER graph, suppliers sharing an order adjacent.  Runs
    `operators.graph.triangle_stats` — canonical a<b edges, then the
    node-iterator join e(a,b)⋈e(b,c)⋈e(a,c) counting each triangle
    once; wedges from the degree sum; see the operator docstring for
    the hub-degree hazard and its degree-ordered-orientation
    mitigation at scale."""
    from wukong_spark.operators.graph import triangle_stats

    l = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    l2 = l.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    pairs = l.join(
        l2, (l.l_orderkey == l2.o2) & (l.l_suppkey < l2.s2)
    ).select(F.col("l_suppkey").alias("src"), F.col("s2").alias("dst"))
    return triangle_stats(pairs)
