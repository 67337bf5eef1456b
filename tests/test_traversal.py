"""Traversal operators: BFS, connected components, PageRank (M7)."""

from __future__ import annotations

from pyspark.sql import functions as F

from neo4j_enterprise_spark.operators import traversal
from neo4j_enterprise_spark.operators.community import label_propagation


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [(i, s, d, "T") for i, (s, d) in enumerate(pairs)],
        "id long, src long, dst long, type_name string",
    )


def test_bfs_hop_counts(spark):
    # path 0→1→2→3 plus branch 1→4
    rels = _edges_df(spark, [(0, 1), (1, 2), (2, 3), (1, 4)])
    seeds = spark.createDataFrame([(0,)], "seed long")
    out = {
        (r["node_id"], r["hops"])
        for r in traversal.bfs_reachable(rels, seeds, k=2).collect()
    }
    assert out == {(0, 0), (1, 1), (2, 2), (4, 2)}


def test_bfs_takes_min_hops_on_diamond(spark):
    # 0→1→3 and 0→3 direct: hops(3) must be 1
    rels = _edges_df(spark, [(0, 1), (1, 3), (0, 3)])
    seeds = spark.createDataFrame([(0,)], "seed long")
    got = {
        r["node_id"]: r["hops"]
        for r in traversal.bfs_reachable(rels, seeds, k=2).collect()
    }
    assert got[3] == 1 and got[1] == 1


def test_connected_components_two_islands(spark):
    rels = _edges_df(spark, [(0, 1), (1, 2), (5, 6), (6, 7)])
    out = {
        r["node_id"]: r["component"]
        for r in traversal.connected_components(rels).collect()
    }
    assert out[0] == out[1] == out[2] == 0
    assert out[5] == out[6] == out[7] == 5


def test_pagerank_sums_to_n_and_ranks_hub_highest(spark):
    # star: everyone points at 0
    rels = _edges_df(spark, [(1, 0), (2, 0), (3, 0), (4, 0)])
    out = {r["node_id"]: r["rank"] for r in traversal.pagerank(rels, iterations=15).collect()}
    assert abs(sum(out.values()) - 5.0) < 1e-6
    assert out[0] == max(out.values())


def test_triangle_counts_k4_minus_edge(spark):
    # K4 on {0,1,2,3} minus edge (2,3): triangles {0,1,2} and {0,1,3}.
    # deg: 0→3, 1→3, 2→2, 3→2; T: 0→2, 1→2, 2→1, 3→1.
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3)], "src long, dst long"
    )
    out = {r["node_id"]: r for r in traversal.triangle_counts(edges).collect()}
    assert {n: r["triangles"] for n, r in out.items()} == {0: 2, 1: 2, 2: 1, 3: 1}
    assert {n: r["degree"] for n, r in out.items()} == {0: 3, 1: 3, 2: 2, 3: 2}
    assert out[0]["clustering"] == 2 * 2 / (3 * 2)  # 2T/(d(d-1))
    assert out[2]["clustering"] == 1.0


def test_triangle_counts_triangle_free(spark):
    # 4-cycle: wedges everywhere, zero triangles.
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3), (0, 3)], "src long, dst long")
    rows = traversal.triangle_counts(edges).collect()
    assert all(r["triangles"] == 0 and r["clustering"] == 0.0 for r in rows)


def test_weighted_shortest_paths_prefers_cheap_detour(spark):
    # 0→1 costs 10; 0→2→3→1 costs 3: dist(1) must be 3, not 10.
    edges = spark.createDataFrame(
        [(0, 1, 10), (0, 2, 1), (2, 3, 1), (3, 1, 1)], "src long, dst long, weight long"
    )
    seeds = spark.createDataFrame([(0,)], "seed long")
    out = {
        r["node_id"]: r["dist"]
        for r in traversal.weighted_shortest_paths(edges, seeds, max_dist=20).collect()
    }
    assert out == {0: 0, 2: 1, 3: 2, 1: 3}


def test_weighted_shortest_paths_respects_bound(spark):
    edges = spark.createDataFrame([(0, 1, 5), (1, 2, 5)], "src long, dst long, weight long")
    seeds = spark.createDataFrame([(0,)], "seed long")
    out = {
        r["node_id"]: r["dist"]
        for r in traversal.weighted_shortest_paths(edges, seeds, max_dist=6).collect()
    }
    assert out == {0: 0, 1: 5}  # node 2 at dist 10 exceeds the bound


def test_label_propagation_two_triangles(spark):
    # Two disconnected triangles: after 2 deterministic rounds every
    # node carries its triangle's min id (round 1 ties break to the
    # smallest neighbor label; round 2 the majority settles it).
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12)],
        "a long, b long",
    )
    out = {r["node_id"]: r["label"] for r in label_propagation(edges, rounds=2).collect()}
    assert out == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 12: 10}


def test_label_propagation_is_deterministic(spark):
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12), (2, 10)],
        "a long, b long",
    )
    a = sorted(map(tuple, label_propagation(edges, rounds=3).collect()))
    b = sorted(map(tuple, label_propagation(edges, rounds=3).collect()))
    assert a == b


def test_k_core_triangle_with_pendant(spark):
    # Triangle {0,1,2} plus pendant 3-0: the 2-core is exactly the
    # triangle (pendant removal must NOT cascade into the triangle).
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (3, 0)], "src long, dst long"
    )
    out = {r["node_id"]: r["degree"] for r in traversal.k_core(edges, k=2).collect()}
    assert out == {0: 2, 1: 2, 2: 2}


def test_k_core_chain_cascades_to_empty(spark):
    # A path graph has no 2-core: peeling the endpoints cascades inward.
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    assert traversal.k_core(edges, k=2).count() == 0


def test_k_core_clique_survives_whole(spark):
    import itertools

    edges = spark.createDataFrame(
        [(a, b) for a, b in itertools.combinations(range(5), 2)], "src long, dst long"
    )
    out = traversal.k_core(edges, k=4).collect()
    assert sorted(r["node_id"] for r in out) == [0, 1, 2, 3, 4]
    assert all(r["degree"] == 4 for r in out)


def _dfs_preorder_reference(adj, seed, k):
    """Plain recursive DFS with ascending-id children and a depth cap —
    the order the legacy Traverser would produce."""
    visited, order = set(), []

    def go(node, depth):
        visited.add(node)
        order.append(node)
        if depth == k:
            return
        for nxt in sorted(adj.get(node, [])):
            if nxt not in visited:
                go(nxt, depth + 1)

    go(seed, 0)
    return {n: i + 1 for i, n in enumerate(order)}


def test_dfs_preorder_matches_recursive_dfs(spark):
    # branchy graph with a cycle and a cross edge
    pairs = [(0, 2), (0, 5), (2, 3), (2, 7), (3, 5), (5, 1), (1, 0), (7, 1)]
    rels = _edges_df(spark, pairs)
    adj = {}
    for s, d in pairs:
        adj.setdefault(s, []).append(d)
    seeds = spark.createDataFrame([(0,)], "seed long")
    got = {
        r["node_id"]: r["preorder"]
        for r in traversal.dfs_preorder(rels, seeds, k=4).collect()
    }
    assert got == _dfs_preorder_reference(adj, 0, 4)


def test_dfs_preorder_chain_vs_branch(spark):
    # 0→{1,9}, 1→{9}: DFS visits 9 through the 1-branch first
    rels = _edges_df(spark, [(0, 1), (0, 9), (1, 9)])
    seeds = spark.createDataFrame([(0,)], "seed long")
    got = {
        r["node_id"]: r["preorder"]
        for r in traversal.dfs_preorder(rels, seeds, k=3).collect()
    }
    assert got == {0: 1, 1: 2, 9: 3}


def test_dfs_preorder_ranks_all_within_k_on_depth_cap_diamond(spark):
    """Pins the documented divergence from a sequential visited-set DFS.

    Diamond 0→1, 1→2, 2→3, 0→2 at k=2: a sequential depth-capped DFS
    visits 2 at the cap via 0-1-2 and never discovers 3 (2 already
    visited when the 0-2 branch is tried). dfs_preorder deliberately
    ranks ALL nodes with a ≤ k-hop simple path — 3 is ranked via 0-2-3 —
    ordered by lex-min simple path: 0 < 0-1 < 0-1-2 < 0-2-3.
    """
    rels = _edges_df(spark, [(0, 1), (1, 2), (2, 3), (0, 2)])
    seeds = spark.createDataFrame([(0,)], "seed long")
    got = {
        r["node_id"]: r["preorder"]
        for r in traversal.dfs_preorder(rels, seeds, k=2).collect()
    }
    assert got == {0: 1, 1: 2, 2: 3, 3: 4}


def test_hyperball_matches_exact_ball_sizes(spark):
    from neo4j_enterprise_spark.operators.traversal import bfs_reachable, hyperball

    # chain with a hub: 0->1->2->3, hub 9 -> {0,1,2,3}
    rels = spark.createDataFrame(
        [(0, 0, 1, "E"), (1, 1, 2, "E"), (2, 2, 3, "E"),
         (3, 9, 0, "E"), (4, 9, 1, "E"), (5, 9, 2, "E"), (6, 9, 3, "E")],
        "id long, src long, dst long, type_name string",
    )
    est = {r["node_id"]: r["ball_size"] for r in hyperball(rels, radius=2).collect()}
    seeds = spark.createDataFrame([(i,) for i in [0, 1, 2, 3, 9]], "seed long")
    exact = (
        bfs_reachable(rels, seeds, k=2)
        .groupBy("seed")
        .count()
        .collect()
    )
    for r in exact:
        # tiny sets: HLL is exact at this cardinality
        assert abs(est[r["seed"]] - r["count"]) < 0.5, (r["seed"], est[r["seed"]], r["count"])


def test_random_walks_deterministic_and_stop_at_sinks(spark):
    from neo4j_enterprise_spark.operators.traversal import random_walks

    rels = spark.createDataFrame(
        [(0, 0, 1, "E"), (1, 0, 2, "E"), (2, 1, 3, "E")],  # 3 is a sink
        "id long, src long, dst long, type_name string",
    )
    seeds = spark.createDataFrame([(0,)], "seed long")
    a = sorted(tuple(r) for r in random_walks(rels, seeds, length=4, seed=1).collect())
    b = sorted(tuple(r) for r in random_walks(rels, seeds, length=4, seed=1).collect())
    assert a == b  # reproducible
    # walk stops when it reaches a sink: no step beyond the dead end
    steps = {r[2] for r in a}  # wait: columns (walk_id, node_id, step)
    by_step = {}
    for walk_id, node_id, step in a:
        by_step[step] = node_id
    last = max(by_step)
    assert last <= 4
    # a different seed may pick the other branch somewhere; at minimum
    # the choice function is seed-sensitive over many steps/graphs —
    # assert only well-formedness here (chain property):
    for s in range(1, last + 1):
        prev, cur = by_step[s - 1], by_step[s]
        assert (prev, cur) in {(0, 1), (0, 2), (1, 3)}


def test_personalized_pagerank_concentrates_near_seeds(spark):
    from neo4j_enterprise_spark.operators.traversal import (
        pagerank,
        personalized_pagerank,
    )

    # two disconnected chains: 0->1->2 and 10->11->12
    rels = spark.createDataFrame(
        [(0, 0, 1, "E"), (1, 1, 2, "E"), (2, 10, 11, "E"), (3, 11, 12, "E")],
        "id long, src long, dst long, type_name string",
    )
    seeds = spark.createDataFrame([(0,)], "seed long")
    ppr = {r["node_id"]: r["rank"] for r in
           personalized_pagerank(rels, seeds, iterations=12).collect()}
    # mass conserves at ~N
    assert abs(sum(ppr.values()) - 6) < 1e-6
    # the seed's component holds ~all mass; the far chain decays to ~0
    near = ppr[0] + ppr[1] + ppr[2]
    far = ppr[10] + ppr[11] + ppr[12]
    assert near > 5.9 and far < 0.1
    # plain pagerank spreads teleport everywhere instead
    pr = {r["node_id"]: r["rank"] for r in pagerank(rels, iterations=12).collect()}
    assert pr[10] > 0.1


def test_pagerank_is_personalized_pagerank_seeded_everywhere(spark):
    from neo4j_enterprise_spark.operators.traversal import (
        pagerank,
        personalized_pagerank,
    )

    # a hub, a cycle and a dangling node (3 has no out-edges)
    rels = _edges_df(spark, [(1, 0), (2, 0), (3, 0), (0, 1), (1, 2), (0, 3)])
    seeds = spark.createDataFrame([(i,) for i in range(4)], "seed long")
    pr = dict(map(tuple, pagerank(rels, iterations=7).collect()))
    ppr = dict(map(tuple, personalized_pagerank(rels, seeds, iterations=7).collect()))
    assert pr.keys() == ppr.keys() == {0, 1, 2, 3}
    for v in pr:
        assert abs(pr[v] - ppr[v]) < 1e-9, (v, pr[v], ppr[v])


def _physical_nodes(plan):
    """Every node of an executed physical plan, through the AQE wrapper
    and its query stages (cached relations are leaves)."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _physical_nodes(plan.executedPlan())
        return
    yield plan
    if name.endswith("QueryStageExec"):
        yield from _physical_nodes(plan.plan())
        return
    children = plan.children()
    for i in range(children.size()):
        yield from _physical_nodes(children.apply(i))


def test_engine_bfs_broadcasts_its_local_seed_frame(spark, sf_dir, monkeypatch):
    """``Engine.bfs`` seeds are a ``LocalRelation`` of exact size, so the
    hop-1 expand join broadcasts the seed side and streams the edge
    union; the rows equal a plain-Python BFS over the same edges."""
    from neo4j_enterprise_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    rels = eng.rels()
    adj: dict[int, set[int]] = {}
    for r in rels.select("src", "dst").collect():
        adj.setdefault(r["src"], set()).add(r["dst"])
    seed = min(s for s in adj if any(d in adj for d in adj[s]))
    want, frontier = {seed: 0}, {seed}
    for depth in (1, 2):
        frontier = {d for s in frontier for d in adj.get(s, ())} - want.keys()
        want.update(dict.fromkeys(frontier, depth))

    hops = []
    frame_cls = type(rels)
    checkpoint = frame_cls.localCheckpoint

    def spy(self, *args, **kwargs):
        hops.append(self)
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", spy)
    got = eng.bfs([seed], k=2)
    assert {(r["seed"], r["node_id"], r["hops"]) for r in got.collect()} == {
        (seed, n, h) for n, h in want.items()
    }

    assert len(hops) == 2
    hop1 = list(_physical_nodes(hops[0]._jdf.queryExecution().executedPlan()))
    expand = [
        n for n in hop1
        if n.getClass().getSimpleName() == "BroadcastHashJoinExec"
        and n.joinType().toString() == "Inner"
    ]
    assert len(expand) == 1
    join = expand[0]
    assert join.buildSide().toString() == "BuildLeft"
    build = {n.getClass().getSimpleName() for n in _physical_nodes(join.left())}
    assert "LocalTableScanExec" in build
    assert "InMemoryTableScanExec" not in build
