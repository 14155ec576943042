"""Connected components: union-find oracle on collected edges (sf0.001)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wukong_spark.operators.graph import connected_components
from wukong_spark.session import load_table
from tests.conftest import SF_SMOKE


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_cc_matches_union_find_on_synthetic(spark):
    # two chains + an isolate-pair: distinct components with known minima
    e = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)]
    df = spark.createDataFrame(e, "src long, dst long")
    got = {r.node: r.component for r in connected_components(df).collect()}
    want = _uf_components(e)
    # union-find parent-compression yields min-id roots here by construction
    assert got == want


def test_cc_customer_supplier_graph(spark):
    """Bipartite customer↔supplier graph from orders⋈lineitem: the Spark
    result must equal a local union-find on the same edges."""
    o = load_table(spark, SF_SMOKE, "orders")
    l = load_table(spark, SF_SMOKE, "lineitem")
    # disambiguate the two id spaces: suppliers get an offset
    edges = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1_000_000).alias("dst"),
        )
        .distinct()
    )
    got = {r.node: r.component for r in connected_components(edges).collect()}
    want = _uf_components([(r.src, r.dst) for r in edges.collect()])
    assert got == want


def test_cc_raises_without_convergence(spark):
    """A path graph with diameter > max_iter must raise, never return
    partial labels silently."""
    import pytest

    chain = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(chain, "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=3)
    # and with enough rounds it fully converges to component 0
    got = {r.component for r in connected_components(df, max_iter=50).collect()}
    assert got == {0}


def test_cc_bucketed_matches_plain(spark):
    """connected_components_bucketed (r12, VERDICT r11 #1): identical
    labels to the plain variant AND to union-find on a synthetic graph
    (two rings + an isolated edge) — the layout may change only the
    physical plan."""
    from wukong_spark.operators.graph import connected_components_bucketed

    edges = [(i, (i + 1) % 10) for i in range(10)]
    edges += [(100 + i, 100 + (i + 1) % 7) for i in range(7)]
    edges += [(500, 501)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.component
        for r in connected_components_bucketed(
            df, table="bkt_cc_test_pin"
        ).collect()
    }
    want = _uf_components(edges)
    assert got == want


def test_pagerank_dangling_mass_conserved_and_converges(spark):
    """pagerank_bucketed(handle_dangling=True) (r12, VERDICT r11 #3):
    on a directed star-with-sinks graph (a) Σ ranks == 1 to 1e-9 every
    run — the dangling teleport is what conserves probability mass;
    (b) a sink node outranks nothing silently: every node of the graph
    appears in the result incl. pure sinks and pure sources; (c) the
    tol convergence stop halts before the iteration cap and the result
    is stable: one more fixed iteration moves ranks < tol."""
    from pyspark.sql import functions as F

    from wukong_spark.operators.graph import pagerank_bucketed

    # 0..4 -> 5 (hub), 5 -> 6, 6 is a sink; 7 -> 6 an extra source
    edges = [(i, 5) for i in range(5)] + [(5, 6), (7, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")

    ranks = pagerank_bucketed(
        df, iters=4, table="bkt_pr_dangling_pin", handle_dangling=True
    )
    rows = {r.node: r.r for r in ranks.collect()}
    assert set(rows) == set(range(8))  # sinks AND sources present
    assert abs(sum(rows.values()) - 1.0) < 1e-9  # mass conserved

    # convergence stop: with a tight tol the loop halts at stability —
    # the converged ranks must agree with an explicit long fixed run to
    # within tol, and mass stays conserved at the stop
    tol = 1e-12
    r_a = pagerank_bucketed(
        df, iters=100, table="bkt_pr_dangling_pin", handle_dangling=True,
        tol=tol,
    )
    a = {r.node: r.r for r in r_a.collect()}
    assert abs(sum(a.values()) - 1.0) < 1e-9
    r_b = pagerank_bucketed(
        df, iters=60, table="bkt_pr_dangling_pin", handle_dangling=True
    )
    b = {r.node: r.r for r in r_b.collect()}
    assert max(abs(a[n] - b[n]) for n in a) < 1e-9


def test_cc_bucketed_raises_without_convergence(spark):
    """Same convergence contract as the plain variant: partial labels are
    wrong labels, so exceeding max_iter must raise, never return."""
    import pytest

    from wukong_spark.operators.graph import connected_components_bucketed

    edges = [(i, i + 1) for i in range(12)]  # a 13-node path: diameter 12
    df = spark.createDataFrame(edges, "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_bucketed(df, max_iter=2, table="bkt_cc_noconv_pin")


def test_pagerank_default_branch_tol_stop_matches_fixed_run(spark):
    """ADVICE r12: tol was silently ignored on the handle_dangling=False
    branch.  Pin the fix: on an undirected (doubled) cycle+chord graph a
    tight-tol run halts at stability and agrees with a long fixed run to
    within 1e-9; a loose tol stops strictly earlier than the cap (proved
    by it differing from the 1-iteration result but matching the
    converged ranks to the tol scale)."""
    from wukong_spark.operators.graph import pagerank_bucketed

    base = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2)]
    edges = base + [(b, a) for a, b in base]
    df = spark.createDataFrame(edges, "src long, dst long")

    # iteration counts sized by the graph's measured contraction (r18,
    # pytest-budget gate): tol=1e-11 stops at ~38 (< the 100 cap), leaving
    # ranks ~6e-11 from the fixed point; the 40-iteration fixed run is
    # ~6e-12 from it — agreement ~7e-11, 14x inside the 1e-9 gate (the
    # r17 1e-12/60 sizing proved the same property with 2x the jobs)
    r_tol = pagerank_bucketed(df, iters=100, table="bkt_pr_default_tol", tol=1e-11)
    a = {r.node: r.r for r in r_tol.collect()}
    r_fix = pagerank_bucketed(df, iters=40, table="bkt_pr_default_tol")
    b = {r.node: r.r for r in r_fix.collect()}
    assert set(a) == set(b) == {0, 1, 2, 3}
    assert max(abs(a[n] - b[n]) for n in a) < 1e-9


def test_pagerank_seeds_validation_precedes_layout_write(spark):
    """ADVICE r12: the seeds-requires-handle_dangling ValueError must fire
    BEFORE the bucketed layout write — an invalid call must not clobber
    the named table."""
    import pytest as _pytest

    from wukong_spark.operators.graph import pagerank_bucketed

    df = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    seeds = spark.createDataFrame([(0, 1.0)], "node long, s double")

    # lay down a table, then make the invalid call against the SAME name:
    # the pre-existing layout must survive untouched
    pagerank_bucketed(df, iters=1, table="bkt_pr_seed_guard")
    before = spark.table("bkt_pr_seed_guard").count()
    with _pytest.raises(ValueError, match="handle_dangling"):
        pagerank_bucketed(
            df, iters=1, table="bkt_pr_seed_guard", seeds=seeds,
            handle_dangling=False,
        )
    assert spark.table("bkt_pr_seed_guard").count() == before


def test_cc_early_exit_matches_generous_cap(spark):
    """VERDICT r12 #5 pin: the labels-changed early exit stops CC at
    stability, so a generous-cap run and a just-enough-cap run return
    IDENTICAL labels on a known-diameter graph (path of 9 nodes:
    diameter 8, min-label flood fill needs ≤ 9 rounds incl. the final
    no-change round) — for both the plain and the bucketed variant."""
    from wukong_spark.operators.graph import (
        connected_components,
        connected_components_bucketed,
    )

    path = [(i, i + 1) for i in range(8)] + [(100, 101)]
    df = spark.createDataFrame(path, "src long, dst long")

    tight = {
        (r.node, r.component)
        for r in connected_components(df, max_iter=10).collect()
    }
    generous = {
        (r.node, r.component)
        for r in connected_components(df, max_iter=50).collect()
    }
    assert tight == generous
    assert {c for _, c in tight} == {0, 100}

    b = {
        (r.node, r.component)
        for r in connected_components_bucketed(
            df, max_iter=50, table="bkt_cc_earlyexit"
        ).collect()
    }
    assert b == generous


def test_kcore_triangle_pendant_and_deep_cascade(spark):
    """kcore (r13): (a) triangle+pendant — the 2-core is the triangle with
    every core degree 2, the 3-core is empty; (b) a DEEP peel cascade (a
    path hung off a clique: each peel round removes exactly one path
    node) stabilizes to the clique and needs one round per path node —
    the convergence loop, not a fixed round count, is what gets it
    right; (c) max_iter too small raises instead of returning a partial
    (wrong) core."""
    import pytest as _pytest

    from wukong_spark.operators.graph import kcore

    def doubled(e):
        return e + [(b, a) for a, b in e]

    tri = doubled([(0, 1), (1, 2), (2, 0), (2, 3)])
    df = spark.createDataFrame(tri, "src long, dst long")
    got = sorted((r.node, r.deg_in_core) for r in kcore(df, 2).collect())
    assert got == [(0, 2), (1, 2), (2, 2)]
    assert kcore(df, 3).count() == 0

    # K4 clique on {0,1,2,3} + path 3-10-11-12-13: 2-core peels the path
    # one node per round (13, then 12, ...) — a 4-round cascade
    clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    path = [(3, 10), (10, 11), (11, 12), (12, 13)]
    deep = doubled(clique + path)
    dfd = spark.createDataFrame(deep, "src long, dst long")
    core = sorted((r.node, r.deg_in_core) for r in kcore(dfd, 2).collect())
    assert core == [(0, 3), (1, 3), (2, 3), (3, 3)]

    with _pytest.raises(RuntimeError, match="kcore"):
        kcore(dfd, 2, max_iter=2)


def test_kcore_fixed_replay_margin_at_gate_sf(spark):
    """graph_kcore_decomposition's oracle replays a FIXED 6 peel rounds;
    pin that the converged operator result on the gate data equals a
    fixed 3-round replay already (so 6 rounds carry 2x margin) — if a
    regenerated dataset ever cascades deeper, this is the test that
    says why the gate went red."""
    from wukong_spark.operators.graph import kcore
    from wukong_spark.queries.helpers import tbl
    from tests.conftest import SF_CORRECT

    o = tbl(spark, SF_CORRECT, "orders").select("o_orderkey", "o_custkey")
    l = tbl(spark, SF_CORRECT, "lineitem").select("l_orderkey", "l_suppkey")
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
    ).localCheckpoint(eager=True)

    converged = {(r.node, r.deg_in_core) for r in kcore(edges, 25).collect()}

    # manual fixed 3-round replay (the oracle shape, shorter)
    cur = edges.select(F.col("src").alias("node")).distinct()
    for _ in range(3):
        cur = (
            edges.join(cur.select(F.col("node").alias("src")), "src")
            .join(cur.select(F.col("node").alias("dst")), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= 25)
            .select("node")
            .localCheckpoint(eager=True)
        )
    final = (
        edges.join(cur.select(F.col("node").alias("src")), "src")
        .join(cur.select(F.col("node").alias("dst")), "dst")
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg_in_core"))
    )
    replay = {(r.node, r.deg_in_core) for r in final.collect()}
    assert converged == replay


def test_hits_converged_matches_dense_numpy(spark):
    """hits (r14): the convergence-stopped operator must agree with a
    dense numpy replay of the SAME alternating L1-normalized power
    iteration to well under tol on a directed graph with hub-only,
    authority-only, and isolated-side nodes."""
    import numpy as np

    from wukong_spark.operators.graph import hits

    # directed bipartite-ish graph with an extra cross edge; node 5 is
    # authority-only, node 0 hub-only
    edges = [(0, 3), (0, 4), (1, 3), (1, 5), (2, 4), (2, 5), (3, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: (r.hub, r.authority) for r in hits(df, tol=1e-10).collect()}

    nodes = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for s, d in edges:
        A[idx[s], idx[d]] = 1.0
    srcs = sorted({s for s, _ in edges})
    h = np.zeros(len(nodes))
    for s in srcs:
        h[idx[s]] = 1.0 / len(srcs)
    a = np.zeros(len(nodes))
    for _ in range(10000):
        a_new = A.T @ h
        a_new /= a_new.sum()
        h_new = A @ a_new
        h_new /= h_new.sum()
        delta = np.abs(h_new - h).sum() + np.abs(a_new - a).sum()
        h, a = h_new, a_new
        if delta < 1e-10:
            break

    assert set(got) == set(nodes)
    for v in nodes:
        gh, ga = got[v]
        assert abs(gh - h[idx[v]]) < 1e-8, (v, gh, h[idx[v]])
        assert abs(ga - a[idx[v]]) < 1e-8, (v, ga, a[idx[v]])
    # structural zeros: no out-edges -> hub 0, no in-edges -> authority 0
    assert got[5][0] == 0.0
    assert got[0][1] == 0.0


def test_hits_raises_without_convergence(spark):
    import pytest as _pytest

    from wukong_spark.operators.graph import hits

    df = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    with _pytest.raises(RuntimeError, match="hits"):
        hits(df, tol=1e-30, max_iter=1)


def _path_edges(spark):  # a 13-node path: diameter 12
    return spark.createDataFrame([(i, i + 1) for i in range(12)], "src long, dst long")


def _cascade_edges(spark):  # K4 plus a hanging path: a 4-round peel cascade
    e = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    e += [(3, 10), (10, 11), (11, 12), (12, 13)]
    return spark.createDataFrame(e + [(b, a) for a, b in e], "src long, dst long")


# each call stops short of convergence on purpose
_NONCONVERGING = {
    "connected_components": lambda g, spark: g.connected_components(
        _path_edges(spark), max_iter=2
    ),
    "connected_components_bucketed": lambda g, spark: g.connected_components_bucketed(
        _path_edges(spark), max_iter=2, table="bkt_cc_noconv_leak"
    ),
    "kcore": lambda g, spark: g.kcore(_cascade_edges(spark), 2, max_iter=2),
    "kcore_bucketed": lambda g, spark: g.kcore_bucketed(
        _cascade_edges(spark), 2, max_iter=2
    ),
    "hits": lambda g, spark: g.hits(
        spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long"),
        tol=1e-30,
        max_iter=1,
    ),
}


@pytest.mark.parametrize("op", sorted(_NONCONVERGING))
def test_nonconvergence_raise_releases_checkpoints(spark, op):
    """A loop that raises past max_iter frees its live iterate's
    checkpoints: after the raise and release_pending(), no persistent RDD
    the call created survives."""
    from wukong_spark.operators import graph
    from wukong_spark.session import release_pending

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    with pytest.raises(RuntimeError, match="did not"):
        _NONCONVERGING[op](graph, spark)
    release_pending()
    assert set(jsc.getPersistentRDDs().keySet().toArray()) <= before


def test_kcore_empty_core_schema_matches_nonempty(spark):
    """kcore (r14, ADVICE r13): the converged-to-empty path must carry
    the SAME schema as the non-empty path, including a non-long node
    type — the operator is generic over the node column."""
    from wukong_spark.operators.graph import kcore

    tri = [(0, 1), (1, 0), (1, 2), (2, 1), (0, 2), (2, 0)]
    df = spark.createDataFrame(tri, "src int, dst int")
    nonempty = kcore(df, 2)
    empty = kcore(df, 3)
    assert empty.count() == 0
    assert [f.dataType for f in empty.schema.fields] == [
        f.dataType for f in nonempty.schema.fields
    ]
    assert [f.name for f in empty.schema.fields] == [
        f.name for f in nonempty.schema.fields
    ]


def test_kcore_bucketed_matches_plain(spark):
    """kcore_bucketed (r14): the one-join bucketed peel must produce
    bit-identical (node, deg_in_core) rows to the plain two-join kcore —
    on the triangle+pendant graph, the deep-cascade clique+path graph,
    and an empty-core case (schema equality included)."""
    from wukong_spark.operators.graph import kcore, kcore_bucketed

    def doubled(pairs):
        return pairs + [(b, a) for a, b in pairs]

    tri = doubled([(0, 1), (1, 2), (0, 2), (2, 9)])
    clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    path = [(3, 10), (10, 11), (11, 12), (12, 13)]
    deep = doubled(clique + path)

    for pairs, k in ((tri, 2), (deep, 2), (tri, 3)):
        df = spark.createDataFrame(pairs, "src long, dst long")
        want = sorted((r.node, r.deg_in_core) for r in kcore(df, k).collect())
        got = sorted(
            (r.node, r.deg_in_core)
            for r in kcore_bucketed(df, k, table="bkt_kcore_t14").collect()
        )
        assert got == want, (k, got, want)


def test_hits_converged_matches_dense_numpy_on_gate_graph(spark):
    """graph_hits_converged's certificate row (r15) attests convergence;
    this test pins the converged VALUES against a dense numpy replay on
    the ACTUAL gate graph (sf0.01 customer→supplier), not just the
    synthetic fixture, so the certificate booleans are backed by a
    value-level oracle here."""
    import numpy as np

    from wukong_spark.operators.graph import hits
    from wukong_spark.queries.helpers import tbl
    from tests.conftest import SF_CORRECT

    o = tbl(spark, SF_CORRECT, "orders").select("o_orderkey", "o_custkey")
    l = tbl(spark, SF_CORRECT, "lineitem").select("l_orderkey", "l_suppkey")
    e = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1000000).alias("dst"),
        )
        .distinct()
    )
    edges = [(r.src, r.dst) for r in e.collect()]
    got = {r.node: (r.hub, r.authority) for r in hits(e, tol=1e-9).collect()}

    nodes = sorted({x for ed in edges for x in ed})
    idx = {v: i for i, v in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for s, d in edges:
        A[idx[s], idx[d]] = 1.0
    srcs = sorted({s for s, _ in edges})
    h = np.zeros(len(nodes))
    for s in srcs:
        h[idx[s]] = 1.0 / len(srcs)
    a = np.zeros(len(nodes))
    for _ in range(100000):
        a_new = A.T @ h
        a_new /= a_new.sum()
        h_new = A @ a_new
        h_new /= h_new.sum()
        delta = np.abs(h_new - h).sum() + np.abs(a_new - a).sum()
        h, a = h_new, a_new
        if delta < 1e-9:
            break
    assert set(got) == set(nodes)
    max_dh = max(abs(got[v][0] - h[idx[v]]) for v in nodes)
    max_da = max(abs(got[v][1] - a[idx[v]]) for v in nodes)
    assert max_dh < 1e-7 and max_da < 1e-7, (max_dh, max_da)


def test_kcore_bucketed_layout_cleanup_and_unique_names(spark):
    """ADVICE r14 (low): the bucketed edge layout must not clobber a
    fixed table name across sessions, and must be dropped on every exit
    path — after a call (default name or explicit), no kcore layout
    table survives in the catalog, and the returned plan still collects
    (it reads the eager checkpoint, not the table)."""
    from wukong_spark.operators.graph import kcore_bucketed

    pairs = [(0, 1), (1, 2), (0, 2), (1, 0), (2, 1), (2, 0)]
    df = spark.createDataFrame(pairs, "src long, dst long")

    res = kcore_bucketed(df, 2)
    tables = [t.name for t in spark.catalog.listTables()]
    assert not any(t.startswith("bkt_kcore_edges") for t in tables), tables
    # plan must survive the table drop (checkpoint-backed)
    assert sorted(r.node for r in res.collect()) == [0, 1, 2]

    # explicit table name is also dropped afterwards
    kcore_bucketed(df, 2, table="bkt_kcore_explicit").collect()
    tables = [t.name for t in spark.catalog.listTables()]
    assert "bkt_kcore_explicit" not in tables, tables


def test_link_prediction_degree_cap_bounds_star_graph(spark):
    """VERDICT r16 #5: the O(D²) hub hazard needs the cap IN CODE.  A
    star graph (one hub relay of degree 50, plus small relays) must
    produce C(50,2)=1225 candidates uncapped, but with max_relay_degree
    below the hub's degree the hub is dropped — candidate count is
    bounded by the small relays, and the dropped hub is surfaced as
    evidence."""
    from wukong_spark.operators.graph import link_prediction_candidates

    hub = [(i, 0) for i in range(50)]            # relay 0: degree 50
    small = [(1000 + i, 100 + i // 2) for i in range(10)]  # 5 relays, deg 2
    e = spark.createDataFrame(hub + small, "c long, s long")

    pairs_full, dropped_full = link_prediction_candidates(
        e, node_col="c", relay_col="s", max_relay_degree=None
    )
    assert pairs_full.count() == 1225 + 5
    assert dropped_full.count() == 0

    pairs_cap, dropped = link_prediction_candidates(
        e, node_col="c", relay_col="s", max_relay_degree=10
    )
    # hub gone: only the 5 degree-2 relays contribute one pair each
    assert pairs_cap.count() == 5
    drows = dropped.collect()
    assert [(r["s"], r["degree"]) for r in drows] == [(0, 50)]
    # non-binding cap ≡ exact
    pairs_eq, _ = link_prediction_candidates(
        e, node_col="c", relay_col="s", max_relay_degree=50
    )
    assert pairs_eq.count() == 1225 + 5


def test_triangle_stats_known_graphs(spark):
    """K4 has 4 triangles and transitivity 1; a star has none; duplicate
    and reversed edges canonicalize away."""
    from wukong_spark.operators.graph import triangle_stats

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    df = spark.createDataFrame(k4 + [(1, 0), (2, 1)], "src long, dst long")
    r = triangle_stats(df).first()
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 6, 4)
    assert r["clustering_4"] == 1.0
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src long, dst long"
    )
    r = triangle_stats(star).first()
    assert r["n_triangles"] == 0 and r["clustering_4"] == 0.0
